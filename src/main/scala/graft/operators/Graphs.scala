package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Catalog

/** Graph analytics over relation-derived graphs (SURVEY.md §2.13 build
  * addendum; complements the connected-components family in
  * [[NearDup]]). Reference checkout is empty (SURVEY.md §0.1); the
  * algorithm is the published degree-oriented triangle enumeration
  * (Chiba–Nishizeki / Schank–Wagner "compact-forward": orient every edge
  * from the lower-(degree,id) endpoint to the higher, enumerate wedges at
  * the low node, close against the oriented edge set).
  *
  * Why orientation matters at 100 TB: the naive wedge join on an
  * UNordered edge list pays Σ deg(v)² — a single celebrity node with
  * degree 10⁷ yields 10¹⁴ wedges. Orienting by (degree, id) bounds every
  * out-degree by O(√m), so the wedge count is O(m^1.5) worst case and the
  * heavy hub contributes nothing: its edges all point INTO it. Both the
  * wedge build and the closing check are plain equi-joins — shuffle-keyed,
  * AQE-skew-splittable, no driver state.
  */
object Graphs {

  /** Distinct undirected edges (a < b) between parts co-occurring in the
    * same order — the UNMATERIALIZED form (one groupBy with map-side
    * collect_set + array pair expansion, never a self-join; see
    * [[Derived.pairOccurrences]] for the shape and the MaxBasket skew
    * guard). The gated queries below do NOT call this per run: they read
    * the per-dataset bucketed artifact via [[Derived.coOrderPairCounts]]
    * and project, so the expansion cost is paid once per dataset.
    */
  def coOrderEdges(lineitem: DataFrame): DataFrame =
    Derived.pairOccurrences(lineitem).distinct()

  /** Triangles of an undirected (a<b) edge list, degree-oriented.
    * Returns one row per triangle corner: (node, x, y, z).
    *
    * Shape: per-node OUT-adjacency arrays (bounded ≤ O(√m) each by the
    * orientation), then one pass over the edges intersecting the two
    * endpoint lists — for oriented (u,v), every w ∈ adj(u) ∩ adj(v)
    * closes the triangle exactly once (u is the rank-lowest corner, and
    * only the (u,v) edge sees both out-edges). This replaces the wedge
    * self-join, whose O(Σ outdeg²) intermediate must cross a shuffle;
    * here the same work happens inside codegen'd array_intersect with
    * only the m edge rows shuffled (or none, when the adjacency relation
    * is small enough for AQE to broadcast — n·O(√m) entries).
    */
  def triangleCorners(edges: DataFrame): DataFrame = {
    // Materialize the edge list once: it feeds BOTH the degree aggregate
    // and the orientation join, and un-checkpointed each reference would
    // re-execute the whole upstream edge build (for Q103, the lineitem
    // pair expansion + distinct) — the same lineage discipline as
    // pageRank's loop state.
    val e0 = edges.localCheckpoint()
    // Total order (deg, id): ranks every node; out-degree under this
    // orientation is ≤ O(√m) regardless of raw degree skew.
    val deg = e0.select(col("a").as("v")).unionAll(e0.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val withDeg = e0
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), Seq("a"))
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), Seq("b"))
    // oriented is referenced three times below (adjacency + two joins) —
    // checkpoint it too, or each reference replays the degree joins.
    val oriented = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint()
    val adj = oriented.groupBy(col("u")).agg(collect_list(col("v")).as("nbrs"))
    oriented
      .join(adj.select(col("u"), col("nbrs").as("u_nbrs")), Seq("u"))
      .join(adj.select(col("u").as("v"), col("nbrs").as("v_nbrs")), Seq("v"))
      .select(col("u"), col("v"),
        explode(array_intersect(col("u_nbrs"), col("v_nbrs"))).as("w"))
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"),
        col("u"), col("v"), col("w"))
  }

  /** Per-node triangle counts from the same degree-oriented enumeration,
    * WITHOUT exploding three corner rows per triangle (r14, guide §2.3
    * aggregate before you shuffle): each closing edge (u, v) contributes
    * its whole intersection size to u and to v as ONE pre-aggregated
    * term, and only the apexes w explode — the aggregation input drops
    * from 3T corner rows to T + 2m rows. Values are identical by the
    * corner decomposition (every triangle counts once per corner);
    * AnalyticsOpsSpec pins equality with [[triangleCorners]] grouped.
    */
  def triangleCountsPerNode(edges: DataFrame): DataFrame = {
    val e0 = edges.localCheckpoint()
    val deg = e0.select(col("a").as("v")).unionAll(e0.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val withDeg = e0
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), Seq("a"))
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), Seq("b"))
    val oriented = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint()
    val adj = oriented.groupBy(col("u")).agg(collect_list(col("v")).as("nbrs"))
    oriented
      .join(adj.select(col("u"), col("nbrs").as("u_nbrs")), Seq("u"))
      .join(adj.select(col("u").as("v"), col("nbrs").as("v_nbrs")), Seq("v"))
      .select(col("u"), col("v"),
        expr("array_intersect(u_nbrs, v_nbrs)").as("common"))
      .filter(size(col("common")) > 0)
      .select(explode(concat(
        array(
          struct(col("u").as("node"), size(col("common")).cast("long").as("cnt")),
          struct(col("v").as("node"), size(col("common")).cast("long").as("cnt"))),
        expr("transform(common, w -> struct(w AS node, 1L AS cnt))"))).as("t"))
      .groupBy(col("t.node").as("node"))
      .agg(sum(col("t.cnt")).cast("long").as("n_triangles"))
  }

  /** Q103 — top-20 parts by triangle participation in the co-order graph:
    * parts that form "bought-together" cliques. Output is total-ordered
    * (count desc, partkey asc) so LIMIT is deterministic.
    */
  def q103(spark: SparkSession, dir: String): DataFrame = {
    // Consumes the shared per-node triangle-count artifact (r13 — built
    // once per dataset by the same degree-oriented enumeration, timed as
    // the bench's tri_build leg; Q145 shares it): identical counts,
    // identical output.
    Derived.triangleCounts(spark, dir)
      .select(col("node").as("p_partkey"), col("n_triangles"))
      .orderBy(desc("n_triangles"), asc_nulls_first("p_partkey"))
      .limit(20)
  }

  /** Q278 — 3-core peeling profile of the co-order graph (Seidman
    * 1983; the synchronized-rounds form of Matula & Beck 1983): start
    * from every node, and each round simultaneously delete all nodes
    * with fewer than 3 alive neighbors; report the alive node/edge
    * counts for rounds 0..12 with a per-round phase ('init' /
    * 'peeling' / 'stable'). The k-core is the standard "dense
    * engagement backbone" read on top of the triangle (Q103) and
    * component (Q67) views — what survives peeling is the subgraph
    * where every product co-occurs with ≥ 3 others that THEMSELVES
    * survive, the recursive density the one-shot degree filter (Q121's
    * c ≥ 2 edges) cannot express. Q122 gates the final 3-core
    * MEMBERSHIP (via [[kCore]], on the support-pruned graph); this
    * gate reports the COLLAPSE DYNAMICS — the per-round profile a
    * capacity review reads to see whether the dense backbone is one
    * peel away or ten — on the unpruned edges.
    *
    * Determinism: synchronized peeling is order-free (the round-r
    * deletion set depends only on the round-(r−1) alive SET), so both
    * engines walk identical set sequences; all outputs are exact
    * counts. The 12-round cap is declared semantics (profile depth),
    * not a convergence guess — the phase column says whether the walk
    * stabilized inside the window, and the fixpoint is reached when a
    * round reports 'stable' (alive set unchanged ⇒ all later rounds
    * identical).
    *
    * Scale notes: each round is one equi-join of the undirected edge
    * relation against the shrinking alive set plus a degree groupBy —
    * the O(|E|) per-round cost of the standard distributed k-core;
    * localCheckpoint truncates the 12-round lineage exactly as Q106's
    * power iteration does. Rounds are a constant, so the whole gate is
    * O(12·|E|) with no quadratic term.
    */
  def q278(spark: SparkSession, dir: String): DataFrame = {
    val e = Derived.coOrderPairCounts(spark, dir)
      .select(col("a"), col("b")).localCheckpoint()
    // Loop state is the SHRINKING live undirected edge relation, not
    // the full graph (r13, VERDICT r12 item 9): r12's form re-joined
    // the ORIGINAL |E| every round — O(13·|E|) even after the graph
    // had collapsed to its core (321 s at sf10). Peeling the edge set
    // itself (filter both endpoints alive, checkpoint, iterate) makes
    // each round's join and degree pass proportional to what is STILL
    // ALIVE, the per-round shuffle decay ScaleHygieneSpec asserts.
    // Degrees over live edges ≡ degrees of the alive-restricted graph,
    // and the live count is 2·n_edges_alive — same 13-row profile.
    var live = e.union(e.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    var nA = live.select(col("a")).distinct().count()
    var nE = live.count() / 2
    // The per-round profile is 13 bounded scalars — driver state of the
    // BFS-frontier class, not a data collect. Peeling is MONOTONE
    // (alive_{r+1} ⊆ alive_r), so an unchanged COUNT proves an
    // unchanged SET and every later round is identical — short-circuit
    // instead of paying the live relation per post-fixpoint round (the
    // declared 13-row output is unchanged).
    val prof = scala.collection.mutable.ArrayBuffer((0L, nA, nE))
    var stable = false
    for (r <- 1 to 12) {
      if (!stable) {
        val next = live
          .groupBy(col("a").as("node"))
          .agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= 3)
          .select(col("node"))
          .localCheckpoint()
        val nNext = next.count()
        if (nNext == nA) stable = true
        else {
          live = live
            .join(next.select(col("node").as("a")), Seq("a"))
            .join(next.select(col("node").as("b")), Seq("b"))
            .localCheckpoint()
          nA = nNext
          nE = live.count() / 2
        }
      }
      prof += ((r.toLong, nA, nE))
    }
    import spark.implicits._
    val phased = prof.toSeq.zipWithIndex.map { case ((r, a, ed), i) =>
      val phase =
        if (r == 0L) "init"
        else if (a == prof(i - 1)._2) "stable"
        else "peeling"
      (3L, r, a, ed, phase)
    }
    phased.toDF("k", "round", "n_alive", "n_edges_alive", "phase")
      .orderBy(asc("round"))
  }

  val q278Oracle: String =
    """WITH RECURSIVE op AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |capped AS (
      |  SELECT ok, pk FROM (
      |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
      |    FROM op) WHERE rn <= 1000),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT c1.pk AS a, c2.pk AS b
      |  FROM capped c1 JOIN capped c2 ON c1.ok = c2.ok AND c1.pk < c2.pk),
      |und AS MATERIALIZED (
      |  SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
      |alive AS (
      |  SELECT CAST(0 AS BIGINT) AS r, a AS node FROM und GROUP BY 2
      |  UNION ALL
      |  SELECT u.r + 1, u.a FROM (
      |    SELECT al.r, un.a, COUNT(*) AS c
      |    FROM alive al JOIN und un ON un.a = al.node
      |    JOIN alive al2 ON al2.node = un.b AND al2.r = al.r
      |    WHERE al.r < 12
      |    GROUP BY 1, 2) u
      |  WHERE u.c >= 3),
      |counts AS (
      |  SELECT r, CAST(COUNT(*) AS BIGINT) AS n_alive FROM alive GROUP BY 1),
      |live_e AS (
      |  SELECT al.r, CAST(COUNT(*) AS BIGINT) AS n_edges
      |  FROM alive al JOIN e ON e.a = al.node
      |  JOIN alive al2 ON al2.node = e.b AND al2.r = al.r
      |  GROUP BY 1),
      |spine AS (SELECT UNNEST(generate_series(0, 12)) AS r),
      |prof AS (
      |  SELECT CAST(s.r AS BIGINT) AS round,
      |    COALESCE(c.n_alive, 0) AS n_alive,
      |    COALESCE(le.n_edges, 0) AS n_edges_alive
      |  FROM spine s
      |  LEFT JOIN counts c ON c.r = s.r
      |  LEFT JOIN live_e le ON le.r = s.r)
      |SELECT CAST(3 AS BIGINT) AS k, round, n_alive, n_edges_alive,
      |  CASE WHEN round = 0 THEN 'init'
      |    WHEN n_alive = LAG(n_alive) OVER (ORDER BY round) THEN 'stable'
      |    ELSE 'peeling' END AS phase
      |FROM prof
      |ORDER BY round""".stripMargin

  // The oracles mirror the MaxBasket truncation (1000 smallest part ids
  // per order, via ROW_NUMBER) so engine and oracle share one semantics:
  // on a dataset with a >1000-part order the gate still compares
  // like-for-like instead of silently diverging. A no-op on the fixtures
  // (max basket ≈ 7).
  val q103Oracle: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |capped AS (
      |  SELECT ok, pk FROM (
      |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
      |    FROM op) WHERE rn <= 1000),
      |e AS (
      |  SELECT DISTINCT c1.pk AS a, c2.pk AS b
      |  FROM capped c1 JOIN capped c2 ON c1.ok = c2.ok AND c1.pk < c2.pk),
      |t AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1
      |  JOIN e e2 ON e2.a = e1.b
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |corners AS (
      |  SELECT x AS node FROM t
      |  UNION ALL SELECT y FROM t
      |  UNION ALL SELECT z FROM t)
      |SELECT node AS p_partkey, COUNT(*) AS n_triangles
      |FROM corners
      |GROUP BY 1
      |ORDER BY n_triangles DESC, p_partkey
      |LIMIT 20""".stripMargin

  /** Directed both-ways edge view of the undirected co-order graph with
    * each source's degree attached — the join input PageRank iterates on.
    */
  private def degreeEdges(edges: DataFrame): DataFrame = {
    val de = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
    val deg = de.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    de.join(deg, Seq("src"))
  }

  /** PageRank on an undirected edge list: `iters` synchronous power
    * iterations of r(v) = 0.15 + 0.85·Σ r(u)/deg(u) from r₀ = 1.
    *
    * Scale notes: each iteration is ONE join + ONE groupBy, both keyed on
    * node ids — the same exchange key every round, so at scale the edge
    * relation is hash-partitioned once and every iteration reuses the
    * layout (co-partitioned join, map-side-combined sum). Rank state
    * lives in the cluster (a node-keyed relation), never on the driver;
    * undirected graphs have no dangling-mass term to redistribute. The
    * O(diameter)-vs-O(log n) concern of the CC family does not apply —
    * PageRank's round count is a fixed hyperparameter.
    */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    // Materialize the iteration-invariant edge relation ONCE: without
    // this, every iteration's join re-executes the upstream edge build
    // (for Q106, the lineitem pair expansion + distinct) inside one plan —
    // iters+1 redundant scans. localCheckpoint also truncates lineage,
    // the same loop-state discipline as the CC family (NearDup.scala).
    // The inner checkpoint matters too: degreeEdges references its input
    // four times (both union legs, the degree agg, the join).
    val e = degreeEdges(edges.localCheckpoint()).localCheckpoint()
    val nodes = e.select(col("src")).distinct().localCheckpoint()
    // Rank-side broadcast fence (r13, VERDICT r12 item 9): the rank
    // relation is one row per NODE — orders of magnitude smaller than
    // the edge relation it joins (2M vs 90M on the sf10 co-order
    // graph). Below ~64 MB built, broadcasting it turns every
    // iteration into a map-side join + partial-agg over the
    // checkpointed edges (zero edge-relation shuffle; only the
    // combined per-dst partials exchange). Past the fence — web-scale
    // node sets — the shuffle join with the once-partitioned edge
    // layout is the cluster shape, unchanged.
    val nNodes = nodes.count()
    val hint: DataFrame => DataFrame =
      if (nNodes <= 4L * 1000 * 1000) broadcast(_) else identity
    var pr = nodes.withColumn("pr", lit(1.0))
    var i = 0
    while (i < iters) {
      pr = e.join(hint(pr), Seq("src"))
        .groupBy(col("dst"))
        .agg((lit(0.15) + lit(0.85) * sum(col("pr") / col("deg"))).as("pr"))
        .select(col("dst").as("src"), col("pr"))
      i += 1
    }
    pr.select(col("src").as("node"), col("pr"))
  }

  /** Q106 — 3-iteration PageRank over the co-order part graph: the most
    * central "bought-with" parts. Ordered by the ROUNDED rank (then key)
    * so the top-25 cut is stable across engines' summation orders.
    */
  def q106(spark: SparkSession, dir: String): DataFrame = {
    pageRank(
      Derived.coOrderPairCounts(spark, dir).select(col("a"), col("b")), 3)
      .select(col("node").as("p_partkey"), round(col("pr"), 4).as("pagerank"))
      .orderBy(desc("pagerank"), asc_nulls_first("p_partkey"))
      .limit(25)
  }

  val q106Oracle: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |capped AS (
      |  SELECT ok, pk FROM (
      |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
      |    FROM op) WHERE rn <= 1000),
      |e AS (
      |  SELECT DISTINCT c1.pk AS a, c2.pk AS b
      |  FROM capped c1 JOIN capped c2 ON c1.ok = c2.ok AND c1.pk < c2.pk),
      |de AS (SELECT a AS src, b AS dst FROM e
      |       UNION ALL SELECT b AS src, a AS dst FROM e),
      |deg AS (SELECT src, COUNT(*) AS deg FROM de GROUP BY 1),
      |r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS pr FROM deg),
      |r1 AS (SELECT de.dst AS node,
      |         CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) *
      |           SUM(r0.pr / deg.deg) AS pr
      |       FROM de JOIN r0 ON r0.node = de.src
      |       JOIN deg ON deg.src = de.src GROUP BY 1),
      |r2 AS (SELECT de.dst AS node,
      |         CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) *
      |           SUM(r1.pr / deg.deg) AS pr
      |       FROM de JOIN r1 ON r1.node = de.src
      |       JOIN deg ON deg.src = de.src GROUP BY 1),
      |r3 AS (SELECT de.dst AS node,
      |         CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) *
      |           SUM(r2.pr / deg.deg) AS pr
      |       FROM de JOIN r2 ON r2.node = de.src
      |       JOIN deg ON deg.src = de.src GROUP BY 1)
      |SELECT node AS p_partkey, ROUND(pr, 4) AS pagerank
      |FROM r3
      |ORDER BY pagerank DESC, p_partkey
      |LIMIT 25""".stripMargin

  /** Q107 — association rules (market-basket) over co-ordered parts:
    * per unordered pair with ≥2 co-occurrences, both directional
    * confidences and the (symmetric) lift, top-20 by lift.
    *
    * Determinism: every measure is ONE IEEE division (or multiply) of
    * exact integer counts — no floating-point summation anywhere, so the
    * doubles are bit-identical across engines and even the pre-round sort
    * key is safe.
    *
    * Scale notes: item counts and pair counts are two hash aggregations
    * of the distinct (order, part) relation; the pair self-join is
    * order-keyed like Q103's edge build. The ≥2-support filter is applied
    * on the aggregated pair counts — the classic support-pruning step
    * that keeps rule generation linear in surviving pairs.
    */
  def q107(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    // referenced twice below (total, item counts) — checkpoint so the
    // distinct runs once
    val op = c.lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().localCheckpoint()
    // scalar total as a 1-row broadcast, not a driver-side count() action
    val nOrders = op.agg(countDistinct(col("ok")).cast("double").as("n_orders"))
    val item = op.groupBy(col("pk")).agg(count(lit(1)).as("cnt"))
    // pair multiplicities come straight off the bucketed artifact — the
    // expansion that used to run here is the once-per-dataset build
    val pairs = Derived.coOrderPairCounts(spark, dir)
      .select(col("a"), col("b"), col("n_pairs").as("n_both"))
      .filter(col("n_both") >= 2)
    pairs
      .join(item.select(col("pk").as("a"), col("cnt").as("ca")), Seq("a"))
      .join(item.select(col("pk").as("b"), col("cnt").as("cb")), Seq("b"))
      .crossJoin(broadcast(nOrders))
      .select(
        col("a"), col("b"), col("n_both"),
        round(col("n_both") / col("ca"), 4).as("conf_ab"),
        round(col("n_both") / col("cb"), 4).as("conf_ba"),
        round(col("n_both") * col("n_orders") / (col("ca") * col("cb")), 4).as("lift"))
      .orderBy(desc("lift"), asc_nulls_first("a"), asc_nulls_first("b"))
      .limit(20)
  }

  val q107Oracle: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |capped AS (
      |  SELECT ok, pk FROM (
      |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
      |    FROM op) WHERE rn <= 1000),
      |n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM op),
      |item AS (SELECT pk, COUNT(*) AS cnt FROM op GROUP BY 1),
      |pairs AS (
      |  SELECT o1.pk AS a, o2.pk AS b, COUNT(*) AS n_both
      |  FROM capped o1 JOIN capped o2 ON o1.ok = o2.ok AND o1.pk < o2.pk
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= 2)
      |SELECT p.a, p.b, p.n_both,
      |  ROUND(CAST(p.n_both AS DOUBLE) / ia.cnt, 4) AS conf_ab,
      |  ROUND(CAST(p.n_both AS DOUBLE) / ib.cnt, 4) AS conf_ba,
      |  ROUND(CAST(p.n_both AS DOUBLE) * n.n_orders / (ia.cnt * ib.cnt), 4) AS lift
      |FROM pairs p
      |JOIN item ia ON ia.pk = p.a
      |JOIN item ib ON ib.pk = p.b
      |CROSS JOIN n
      |ORDER BY lift DESC, a NULLS FIRST, b NULLS FIRST
      |LIMIT 20""".stripMargin

  /** Hop distances from the graph's smallest node id over an undirected
    * edge list, breadth-first, bounded at `maxHops` rounds.
    *
    * Frontier BFS, not label-correcting: each round joins only the NEWLY
    * discovered frontier against the edge relation, so per-round work is
    * proportional to the edges incident to the frontier — never a full
    * re-relaxation of the settled set. For an unweighted graph the first
    * discovery IS the shortest distance, so one pass per depth suffices.
    *
    * Scale notes: the both-ways edge relation is checkpointed once and
    * every round's join keys on the same node id — one hash layout,
    * reused across rounds (co-partitioned under AQE). Frontier and
    * settled relations live in the cluster; the loop's driver state is
    * one boolean (frontier emptiness) per round. `maxHops` bounds the
    * round count a priori, and the early exit on an empty frontier is
    * exactly equivalent to running the remaining rounds (an empty
    * frontier generates nothing forever after) — engine and the
    * hop-capped recursive oracle share one semantics on any dataset.
    */
  def bfsHops(edges: DataFrame, maxHops: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .localCheckpoint()
    val de = e0.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e0.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    // Deterministic source = the smallest node id (pairs are a < b, so
    // min(a) is the global min endpoint). A bounded 1-value collect.
    val srcRow = e0.agg(min(col("a"))).head()
    if (srcRow.isNullAt(0)) return Seq.empty[(Long, Int)].toDF("node", "hops")
    var settled = Seq((srcRow.getLong(0), 0)).toDF("node", "hops").localCheckpoint()
    var frontier = settled
    var h = 1
    while (h <= maxHops && !frontier.isEmpty) {
      val next = frontier.select(col("node").as("src"))
        .join(de, Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(settled.select("node"), Seq("node"), "left_anti")
        .withColumn("hops", lit(h))
        .localCheckpoint()
      settled = settled.unionAll(next).localCheckpoint()
      frontier = next
      h += 1
    }
    settled
  }

  /** Q121 — BFS hop distances (≤ 6) from the smallest part id over the
    * SUPPORT-PRUNED co-order graph (pairs co-ordered ≥ 2 times — the
    * Q107 support filter, which leaves real neighborhood structure
    * instead of one dense near-clique). Gates the whole iterative
    * traversal: every (node, hops) row must match the oracle's
    * recursive-CTE BFS exactly.
    */
  val MaxBfsHops = 6

  def q121(spark: SparkSession, dir: String): DataFrame = {
    val edges = Derived.coOrderPairCounts(spark, dir)
      .filter(col("n_pairs") >= 2).select(col("a"), col("b"))
    bfsHops(edges, MaxBfsHops)
      .select(col("node").as("p_partkey"), col("hops").cast("int").as("hops"))
      .orderBy(asc("hops"), asc_nulls_first("p_partkey"))
  }

  val q121Oracle: String =
    s"""WITH RECURSIVE op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |capped AS (
       |  SELECT ok, pk FROM (
       |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
       |    FROM op) WHERE rn <= 1000),
       |e AS MATERIALIZED (
       |  SELECT a, b FROM (
       |    SELECT c1.pk AS a, c2.pk AS b, COUNT(*) AS c
       |    FROM capped c1 JOIN capped c2 ON c1.ok = c2.ok AND c1.pk < c2.pk
       |    GROUP BY 1, 2)
       |  WHERE c >= 2),
       |de AS MATERIALIZED (SELECT a AS src, b AS dst FROM e
       |                    UNION ALL SELECT b AS src, a AS dst FROM e),
       |bfs AS (
       |  SELECT MIN(a) AS node, 0 AS hops FROM e
       |  UNION
       |  SELECT de.dst AS node, bfs.hops + 1 AS hops
       |  FROM bfs JOIN de ON de.src = bfs.node
       |  WHERE bfs.hops < $MaxBfsHops)
       |SELECT node AS p_partkey, CAST(MIN(hops) AS INT) AS hops
       |FROM bfs WHERE node IS NOT NULL
       |GROUP BY 1
       |ORDER BY hops, p_partkey NULLS FIRST""".stripMargin

  /** k-core of an undirected edge list by iterated peeling (Seidman 1983;
    * the distributed form of Batagelj–Zaveršnik): repeatedly drop nodes
    * whose degree within the surviving set is < k, at most `maxRounds`
    * rounds. Returns the surviving nodes with their within-core degree.
    *
    * Scale notes: each round is one co-partitioned double semi-join of
    * the (checkpointed) edge relation against the alive set plus one
    * node-keyed count — same exchange key every round. The alive set
    * shrinks monotonically, so per-round cost only falls; driver state
    * is one count per round. Early exit when the alive COUNT stops
    * changing is exact (alive' ⊆ alive, so equal cardinality ⇒ equal
    * sets ⇒ every later round is a no-op), which keeps the bounded
    * engine loop bit-equal to the oracle's full `maxRounds` unroll on
    * any dataset, converged or not.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    val e0 = edges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .localCheckpoint()
    var alive = e0.select(col("a").as("node")).unionAll(e0.select(col("b").as("node")))
      .distinct().localCheckpoint()
    var aliveCount = alive.count()
    var deg = alive.select(col("node"), lit(0L).as("core_deg")).filter(lit(false))
    var r = 0
    var converged = aliveCount == 0L
    while (r < maxRounds && !converged) {
      val ae = e0
        .join(alive.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(alive.select(col("node").as("b")), Seq("b"), "left_semi")
      deg = ae.select(col("a").as("node")).unionAll(ae.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
        .filter(col("core_deg") >= k)
        .localCheckpoint()
      val n = deg.count()
      converged = n == aliveCount
      aliveCount = n
      alive = deg.select(col("node"))
      r += 1
    }
    deg
  }

  /** Q122 — the 3-core of the support-pruned co-order graph, peeled for
    * up to 12 rounds (the whole iterative algorithm gated: every
    * surviving part and its within-core degree must hash-match the
    * oracle's generated 12-round unroll — the Q117/Q119 discipline on
    * the peeling family).
    */
  val KCoreK = 3
  val KCoreRounds = 12

  def q122(spark: SparkSession, dir: String): DataFrame = {
    val edges = Derived.coOrderPairCounts(spark, dir)
      .filter(col("n_pairs") >= 2).select(col("a"), col("b"))
    kCore(edges, KCoreK, KCoreRounds)
      .select(col("node").as("p_partkey"), col("core_deg"))
      .orderBy(asc_nulls_first("p_partkey"))
  }

  /** Generated, not hand-written (the Q119 oracle discipline): the round
    * count can never drift between engine and oracle. Per-round CTEs are
    * MATERIALIZED — each feeds two downstream references, and default
    * inlining would make the chain exponential.
    */
  val q122Oracle: String = {
    val sb = new StringBuilder
    sb ++= """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
             |capped AS (
             |  SELECT ok, pk FROM (
             |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
             |    FROM op) WHERE rn <= 1000),
             |e AS MATERIALIZED (
             |  SELECT a, b FROM (
             |    SELECT c1.pk AS a, c2.pk AS b, COUNT(*) AS c
             |    FROM capped c1 JOIN capped c2 ON c1.ok = c2.ok AND c1.pk < c2.pk
             |    GROUP BY 1, 2)
             |  WHERE c >= 2),
             |a0 AS MATERIALIZED (
             |  SELECT DISTINCT node FROM (
             |    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e))""".stripMargin
    for (r <- 1 to KCoreRounds) {
      val prev = s"a${r - 1}"
      sb ++= s""",
                |j$r AS MATERIALIZED (
                |  SELECT e.a, e.b FROM e
                |  JOIN $prev x ON e.a = x.node
                |  JOIN $prev y ON e.b = y.node),
                |d$r AS MATERIALIZED (
                |  SELECT node, COUNT(*) AS deg FROM (
                |    SELECT a AS node FROM j$r UNION ALL SELECT b AS node FROM j$r)
                |  GROUP BY 1),
                |a$r AS MATERIALIZED (SELECT node FROM d$r WHERE deg >= $KCoreK)""".stripMargin
    }
    sb ++= s"""
              |SELECT node AS p_partkey, deg AS core_deg
              |FROM d$KCoreRounds WHERE deg >= $KCoreK
              |ORDER BY p_partkey NULLS FIRST""".stripMargin
    sb.toString
  }

  /** Q131 — common-neighbor link prediction over the support-pruned
    * co-order graph: the top-100 NON-adjacent part pairs ranked by how
    * many co-order neighbors they share (Liben-Nowell & Kleinberg 2003,
    * the common-neighbors and Jaccard predictors). "Parts never ordered
    * together but whose neighborhoods overlap" is the recommender /
    * assortment-gap question. Rank and cut are on the exact integer
    * common-neighbor count with (pa, pb) tiebreak — fully deterministic;
    * the Jaccard score cn/(deg(pa)+deg(pb)−cn) is carried as a column,
    * one float divide from exact int64 inputs.
    *
    * Scale notes: open wedges x–z–y are enumerated at their CENTER z by
    * one self-equi-join of the (checkpointed) directed neighbor list —
    * the same Σ deg(z)² bound as triangle counting, and the same two
    * defenses Q103's scaladoc names: the ≥2-support prune bounds hub
    * degree before any join, and a residual hot z is an AQE-splittable
    * skewed join key (a z with degree d contributes d(d−1)/2 wedges on
    * one key). Adjacency removal is a co-keyed left-anti join against
    * the bucketed edge artifact; degrees attach by two broadcast-sized
    * joins on the node-count relation. Output is top-k bounded.
    */
  val LinkPredTopK = 100

  /** Common-neighbor/Jaccard scores for every NON-adjacent pair of an
    * undirected (a < b) edge list, top-k by exact (cn, pa, pb). See
    * [[q131]]'s scaladoc for the wedge-centered cost model.
    */
  def linkPredict(edges: DataFrame, topK: Int): DataFrame = {
    val e0 = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b")).localCheckpoint()
    val de = e0.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(e0.select(col("b").as("node"), col("a").as("nbr")))
      .localCheckpoint()
    val deg = de.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val wedges = de.select(col("nbr").as("z"), col("node").as("pa"))
      .join(de.select(col("nbr").as("zz"), col("node").as("pb")),
        col("zz") === col("z") && col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("cn"))
    wedges
      .join(e0.select(col("a").as("pa"), col("b").as("pb")),
        Seq("pa", "pb"), "left_anti")
      .join(deg.select(col("node").as("pa"), col("deg").as("dega")), Seq("pa"))
      .join(deg.select(col("node").as("pb"), col("deg").as("degb")), Seq("pb"))
      .select(col("pa"), col("pb"), col("cn"),
        round(col("cn").cast("double") /
          (col("dega") + col("degb") - col("cn")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(desc("cn"), asc("pa"), asc("pb"))
      .limit(topK)
  }

  def q131(spark: SparkSession, dir: String): DataFrame = {
    val edges = Derived.coOrderPairCounts(spark, dir)
      .filter(col("n_pairs") >= 2).select(col("a"), col("b"))
    linkPredict(edges, LinkPredTopK)
  }

  val q131Oracle: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |capped AS (
       |  SELECT ok, pk FROM (
       |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
       |    FROM op) WHERE rn <= 1000),
       |e AS MATERIALIZED (
       |  SELECT a, b FROM (
       |    SELECT c1.pk AS a, c2.pk AS b, COUNT(*) AS c
       |    FROM capped c1 JOIN capped c2 ON c1.ok = c2.ok AND c1.pk < c2.pk
       |    GROUP BY 1, 2)
       |  WHERE c >= 2),
       |de AS MATERIALIZED (SELECT a AS node, b AS nbr FROM e
       |                    UNION ALL SELECT b AS node, a AS nbr FROM e),
       |deg AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM de GROUP BY 1),
       |wedges AS (
       |  SELECT l.node AS pa, r.node AS pb, COUNT(*) AS cn
       |  FROM de l JOIN de r ON r.nbr = l.nbr AND l.node < r.node
       |  GROUP BY 1, 2),
       |nonadj AS (
       |  SELECT w.pa, w.pb, w.cn FROM wedges w
       |  LEFT JOIN e ON e.a = w.pa AND e.b = w.pb
       |  WHERE e.a IS NULL)
       |SELECT n.pa, n.pb, n.cn,
       |  ROUND(CAST(n.cn AS DOUBLE)
       |        / CAST(dx.deg + dy.deg - n.cn AS DOUBLE), 6) AS jaccard
       |FROM nonadj n
       |JOIN deg dx ON dx.node = n.pa
       |JOIN deg dy ON dy.node = n.pb
       |ORDER BY n.cn DESC, n.pa, n.pb
       |LIMIT $LinkPredTopK""".stripMargin

  /** Weighted single-source shortest paths by bounded synchronous
    * Bellman-Ford (min-plus relaxation): `maxRounds` rounds of
    * dist' = min(dist, min over incoming edges (dist[src] + w)), which
    * yields exact shortest distances among paths of ≤ `maxRounds` edges.
    * BFS (Q121) settles a node at first touch — correct only when every
    * edge costs 1; with weights a later, longer-hop path can be CHEAPER,
    * so each round must re-relax the full label table (label-correcting,
    * not label-setting).
    *
    * Scale notes: each round is one equi-join of the current label table
    * against the (checkpointed) directed edge relation plus one
    * node-keyed min — the same exchange key every round, co-partitioned
    * under AQE. Driver state per round is one (count, sum) pair. The
    * early exit compares the (node-count, Σdist) signature across
    * rounds, which is EXACT: the node set only grows and per-node
    * distances only fall, so equal count and equal sum force identical
    * tables, and a fixpoint round is a no-op forever after — the
    * bounded engine loop stays bit-equal to the oracle's full
    * `maxRounds` unroll on any dataset, converged or not. (Delta-stepping
    * / frontier-limited relaxation is the constant-factor refinement at
    * extreme diameter; round count here is bounded a priori.)
    */
  def ssspBellmanFord(weightedEdges: DataFrame, maxRounds: Int): DataFrame = {
    val spark = weightedEdges.sparkSession
    import spark.implicits._
    val e0 = weightedEdges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"), col("w").cast("long").as("w"))
      .localCheckpoint()
    val de = e0.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionAll(e0.select(col("b").as("src"), col("a").as("dst"), col("w")))
      .localCheckpoint()
    val srcRow = e0.agg(min(col("a"))).head()
    if (srcRow.isNullAt(0)) return Seq.empty[(Long, Long)].toDF("node", "dist")
    var dist = Seq((srcRow.getLong(0), 0L)).toDF("node", "dist").localCheckpoint()
    var sig = (1L, 0L)
    var converged = false
    var r = 0
    while (r < maxRounds && !converged) {
      val relaxed = dist.select(col("node").as("src"), col("dist"))
        .join(de, Seq("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist = dist.unionAll(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint()
      val s = dist.agg(count(lit(1)), sum(col("dist"))).head()
      val next = (s.getLong(0), s.getLong(1))
      converged = next == sig
      sig = next
      r += 1
    }
    dist
  }

  /** Q135 — weighted shortest paths (≤ 6 relaxation rounds) from the
    * smallest part id over the support-pruned co-order graph, with the
    * edge cost INVERSELY tied to co-order support: w = 1000000 ÷ n_pairs
    * (integer division) — strongly co-ordered parts are "close", so the
    * distance field ranks parts by cumulative affinity to the source,
    * not hop count. Exact-integer min-plus arithmetic end to end; the
    * whole iterative algorithm is gated against a GENERATED 6-round
    * unrolled oracle (Q122 discipline — round counts can't drift).
    */
  val SsspRounds = 6

  def q135(spark: SparkSession, dir: String): DataFrame = {
    val edges = Derived.coOrderPairCounts(spark, dir)
      .filter(col("n_pairs") >= 2)
      .select(col("a"), col("b"), expr("1000000 DIV n_pairs").as("w"))
    ssspBellmanFord(edges, SsspRounds)
      .select(col("node").as("p_partkey"), col("dist"))
      .orderBy(asc("dist"), asc_nulls_first("p_partkey"))
  }

  /** Generated unroll, one CTE pair per relaxation round (the Q122
    * oracle discipline); per-round CTEs are MATERIALIZED because each
    * label table feeds both the carry branch and the relax join.
    */
  val q135Oracle: String = {
    val sb = new StringBuilder
    sb ++= """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
             |capped AS (
             |  SELECT ok, pk FROM (
             |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
             |    FROM op) WHERE rn <= 1000),
             |e AS MATERIALIZED (
             |  SELECT a, b, 1000000 // c AS w FROM (
             |    SELECT c1.pk AS a, c2.pk AS b, COUNT(*) AS c
             |    FROM capped c1 JOIN capped c2 ON c1.ok = c2.ok AND c1.pk < c2.pk
             |    GROUP BY 1, 2)
             |  WHERE c >= 2),
             |de AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM e
             |                    UNION ALL SELECT b AS src, a AS dst, w FROM e),
             |d0 AS MATERIALIZED (
             |  SELECT MIN(a) AS node, CAST(0 AS BIGINT) AS dist FROM e
             |  WHERE a IS NOT NULL)""".stripMargin
    for (r <- 1 to SsspRounds) {
      val prev = s"d${r - 1}"
      sb ++= s""",
                |d$r AS MATERIALIZED (
                |  SELECT node, MIN(dist) AS dist FROM (
                |    SELECT node, dist FROM $prev
                |    UNION ALL
                |    SELECT de.dst AS node, $prev.dist + de.w AS dist
                |    FROM $prev JOIN de ON de.src = $prev.node)
                |  GROUP BY 1)""".stripMargin
    }
    sb ++= s"""
              |SELECT node AS p_partkey, dist FROM d$SsspRounds
              |WHERE node IS NOT NULL
              |ORDER BY dist, p_partkey NULLS FIRST""".stripMargin
    sb.toString
  }

  /** Q145 — local clustering coefficient (Watts & Strogatz 1998) of the
    * co-order graph: cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — how close a
    * part's co-purchase neighborhood is to a clique. T(v) rides the same
    * degree-oriented triangle enumeration as Q103 and deg(v) the same
    * edge relation, so both inputs are exact int64; the one float is the
    * final ratio of identical integers in both engines, rounded to 6
    * before the (cc desc, partkey) top-30 cut.
    *
    * Scale notes: output is bounded by node count, the triangle pass is
    * the O(m^1.5) oriented enumeration, and the degree aggregate is one
    * map-side-combined pass over the materialized edge artifact — no new
    * shuffle shape beyond Q103's.
    */
  def q145(spark: SparkSession, dir: String): DataFrame = {
    val edges = Derived.coOrderPairCounts(spark, dir)
      .select(col("a"), col("b"))
    // Per-node triangle counts come from the shared artifact (r13 —
    // same enumeration Q103 reads; the degree pass below is one linear
    // aggregate over the bucketed pair artifact).
    val tri = Derived.triangleCounts(spark, dir)
    val deg = edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    tri.join(deg, Seq("node"))
      .select(col("node").as("p_partkey"), col("deg"), col("n_triangles"),
        round(lit(2.0) * col("n_triangles") /
          (col("deg").cast("double") * (col("deg") - 1)), 6).as("cc"))
      .orderBy(desc("cc"), asc_nulls_first("p_partkey"))
      .limit(30)
  }

  val q145Oracle: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |capped AS (
      |  SELECT ok, pk FROM (
      |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
      |    FROM op) WHERE rn <= 1000),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT c1.pk AS a, c2.pk AS b
      |  FROM capped c1 JOIN capped c2 ON c1.ok = c2.ok AND c1.pk < c2.pk),
      |t AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1
      |  JOIN e e2 ON e2.a = e1.b
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |tri AS (
      |  SELECT node, COUNT(*) AS n_triangles FROM (
      |    SELECT x AS node FROM t
      |    UNION ALL SELECT y FROM t
      |    UNION ALL SELECT z FROM t)
      |  GROUP BY 1),
      |deg AS (
      |  SELECT node, COUNT(*) AS deg FROM (
      |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      |  GROUP BY 1)
      |SELECT tri.node AS p_partkey, deg.deg AS deg, tri.n_triangles AS n_triangles,
      |  ROUND(2.0 * tri.n_triangles
      |    / (CAST(deg.deg AS DOUBLE) * (deg.deg - 1)), 6) AS cc
      |FROM tri JOIN deg ON deg.node = tri.node
      |ORDER BY cc DESC, p_partkey NULLS FIRST
      |LIMIT 30""".stripMargin

  /** Q334 — DOULION edge-sampled triangle estimation (Tsourakakis, Kang,
    * Miller, Faloutsos, KDD 2009) of the co-order graph at a nested
    * three-rate ladder p ∈ {1, 2, 4}/den, where den = 2^(s+2) is
    * DERIVED from the measured wedge mass (s = smallest shift with
    * W·4⁻ˢ inside the wedge budget; den = 8 ⇒ the declared
    * {1/8, 1/4, 1/2} at every fixture tier): the approximate scale twin the
    * exact enumeration gates need at 100 TB the way Q35 has Q160 and Q50
    * has Q198 (r11 verdict item 3) — the sf10 rehearsal measured the
    * exact wedge mass at 75 GB spill (Q103) and an 8 GB OOM (Q145);
    * sampling each edge independently at rate p cuts the enumerated
    * wedge mass by p² while T̂ = T_sampled / p³ stays unbiased (each
    * triangle survives with probability p³), with relative error
    * shrinking as corpora grow (Var(T̂)/T² ≤ (p⁻³−1)/T + O(Δ/T²)).
    *
    * Derandomized (the Q340 bootstrap discipline): edge (a, b) survives
    * rate num/8 iff md5('doulion:a:b') % 8 < num, so both engines draw
    * IDENTICAL sparsified graphs and the rates are NESTED (the num = 1
    * graph ⊆ num = 2 ⊆ num = 4 — one hash draw, three thresholds).
    * tri_sampled is an exact count of the oriented enumeration on the
    * sampled graph, est_triangles = tri_sampled·(8/num)³ exact int64,
    * and the full graph's wedge count Σ deg(deg−1)/2 is exact from one
    * degree pass; the only float is the final global-cc estimate
    * 3·T̂/wedges — one divide of exact int64s, rounded 6. Accuracy
    * against the exact triangle count is property-pinned at fixture
    * scale in Round12GatesSpec; the estimator-in-the-8-GB-envelope
    * claim is a measured sf10 rehearsal row (SCALE.md).
    *
    * Scale notes: one degree pass + one tagged scan over the bucketed
    * pair artifact + ONE oriented enumeration of the largest sampled
    * graph (wedge mass 1/4 of Q103's; the nested smaller rates are
    * classified per triangle by max edge hash — r13, was three
    * enumerations at 1/64 + 1/16 + 1/4); the per-rate counts are
    * bounded driver scalars (the Q278 profile discipline), never a data
    * collect. At 100 TB the p = 1/8 leg reads off the same enumeration
    * — the production read; the exact gates remain the fixture-scale
    * contract.
    */
  def q334(spark: SparkSession, dir: String): DataFrame = {
    // q334 never constructs Catalog (it reads the Derived artifact), so
    // register the graft_* functions itself — idempotent; required by
    // graft_hex32 in single-query sessions (a one-leg Bench, PlanDump).
    graft.plans.GraftExtensions.registerRuntime(spark)
    // Deliberately NOT checkpointed: the md5 tag is row-local codegen
    // over the bucketed artifact scan, so each rate's filter pass costs
    // one cheap linear read — pinning the full 100 TB-scale tagged edge
    // list in the block manager just to avoid re-reading it is the wrong
    // trade (measured: at sf10 the 90M-row checkpoint plus the
    // enumeration's own working set starved the 8 GB heap's aggregation
    // memory; unpinned, the same legs run clean).
    val edges = Derived.coOrderPairCounts(spark, dir)
      .select(col("a"), col("b"))
    // ONE degree pass serves both probe scalars (r13): the wedge mass
    // AND the edge count (Σ deg = 2·|E| exactly — every a<b pair
    // contributes one entry per endpoint), replacing r12's separate
    // edges.count() job.
    val degRow = edges.select(col("a").as("v"))
      .unionAll(edges.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .agg(
        coalesce(sum(expr("(deg * (deg - 1)) DIV 2")), lit(0L))
          .cast("long"),
        coalesce(sum(col("deg")), lit(0L)).cast("long"))
      .first()
    val wedges = degRow.getLong(0)
    val nEdges = degRow.getLong(1) / 2
    // Rate ladder derived from the measured wedge mass (r13, VERDICT
    // r12 item 8): the heaviest leg samples at p = 2^-s with s the
    // smallest shift ≥ 1 keeping its p²-scaled wedge mass W >> 2s
    // inside [[DoulionWedgeBudget]] — pure-integer, mirrored verbatim
    // by the oracle's range-scan MIN, and s = 1 (den = 8, the declared
    // {1/8, 1/4, 1/2} ladder) at every fixture tier so golden hashes
    // stand. r12's FIXED den = 8 made the p = 1/2 leg spill 29 GB at
    // sf10; the derived shift scales p down exactly as fast as the
    // wedge mass grows.
    val shift = (1 to 30)
      .find(s => (wedges >> (2 * s)) <= DoulionWedgeBudget).getOrElse(30)
    val den = 1L << (shift + 2)
    val hvd = "(" + NearDup.hexValueFastExpr(
      "md5('doulion:' || CAST(a AS STRING) || ':' || CAST(b AS STRING))") +
      s") % $den"
    val tagged = edges.withColumn("hvd", expr(hvd))
    // The three rates are NESTED (num = 1 ⊆ 2 ⊆ 4 by construction of the
    // shared hash draw), so ONE pass serves all three (r13): the per-rate
    // edge counts are three conditional sums over the tagged scan, and
    // the three triangle counts come from ONE oriented enumeration of the
    // LARGEST sampled graph (hvd < 4) — a triangle lies in the num-rate
    // graph iff the max of its three edge hashes is < num, so each
    // enumerated triangle is classified by that max instead of being
    // re-enumerated per rate. Wedge mass enumerated drops from
    // (1/64 + 1/16 + 1/4)·W to 1/4·W and two of the three enumeration
    // job chains disappear; every count stays the exact integer the
    // per-rate enumerations produced (orientation choice cannot change a
    // triangle SET).
    val kept4 = tagged.filter(col("hvd") < 4)
      .select(col("a"), col("b"), col("hvd")).localCheckpoint()
    // Per-rate kept-edge counts read off the CHECKPOINTED num = 4 graph
    // (r14): hvd < num ⊆ hvd < 4 for every rate, so the conditional sums
    // over kept4 are the identical integers the full tagged scan
    // produced — one cheap scan of the sampled subset instead of a
    // second full pass over the edge artifact (guide §1.2 step 1).
    val keRow = kept4.agg(
      coalesce(sum(when(col("hvd") < 1, 1L).otherwise(0L)), lit(0L))
        .cast("long"),
      coalesce(sum(when(col("hvd") < 2, 1L).otherwise(0L)), lit(0L))
        .cast("long"),
      count(lit(1)).cast("long"))
      .first()
    val deg4 = kept4.select(col("a").as("v"))
      .unionAll(kept4.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val oriented4 = kept4
      .join(deg4.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"),
        Seq("a"))
      .join(deg4.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"),
        Seq("b"))
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"),
        col("hvd"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("hvd"))
      .localCheckpoint()
    // Out-adjacency as a map (nbr -> edge hash): the closing edges'
    // hashes are looked up during the same array_intersect pass the
    // plain enumeration runs, and every probed key is IN both maps (w
    // ranges over the intersection), so the ANSI map access can never
    // miss.
    val adj4 = oriented4.groupBy(col("u"))
      .agg(map_from_entries(collect_list(struct(col("v"), col("hvd"))))
        .as("m"))
    val triRow = oriented4
      .join(adj4.select(col("u"), col("m").as("mu")), Seq("u"))
      .join(adj4.select(col("u").as("v"), col("m").as("mv")), Seq("v"))
      .select(col("hvd"),
        expr("array_intersect(map_keys(mu), map_keys(mv))").as("common"),
        col("mu"), col("mv"))
      .select(
        expr("size(filter(common, w -> greatest(hvd, mu[w], mv[w]) < 1))")
          .as("c1"),
        expr("size(filter(common, w -> greatest(hvd, mu[w], mv[w]) < 2))")
          .as("c2"),
        expr("size(common)").as("c4"))
      .agg(
        coalesce(sum(col("c1")), lit(0L)).cast("long"),
        coalesce(sum(col("c2")), lit(0L)).cast("long"),
        coalesce(sum(col("c4")), lit(0L)).cast("long"))
      .first()
    val measured = Seq(0, 1, 2).map { i =>
      (1L << i, den, nEdges, keRow.getLong(i), triRow.getLong(i))
    }
    import spark.implicits._
    measured
      .toDF("num", "den", "n_edges", "kept_edges", "tri_sampled")
      .withColumn("est_triangles", expr(
        "tri_sampled * (den DIV num) * (den DIV num) * (den DIV num)"))
      .withColumn("wedges", lit(wedges))
      .withColumn("est_global_cc", expr(
        "ROUND(CAST(3 * est_triangles AS DOUBLE) / CAST(wedges AS DOUBLE), 6)"))
      .orderBy(asc("num"))
  }

  /** Wedge mass the HEAVIEST DOULION leg may enumerate: 2·10⁹ wedges
    * ≈ the measured seconds-cheap band of the oriented enumeration on
    * 32 threads and a rounding-error share of a 1000-executor cluster;
    * the sampled mass decays 4× per derived shift step, so the budget
    * fences cost while the p⁻³ variance growth stays logarithmic in W.
    */
  private[operators] val DoulionWedgeBudget = 2L * 1000 * 1000 * 1000

  val q334Oracle: String = {
    val hv = "(" + NearDup.hexValueExpr(
      "md5('doulion:' || CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR))") +
      ")"
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |capped AS (
       |  SELECT ok, pk FROM (
       |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
       |    FROM op) WHERE rn <= 1000),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT c1.pk AS a, c2.pk AS b
       |  FROM capped c1 JOIN capped c2 ON c1.ok = c2.ok AND c1.pk < c2.pk),
       |deg AS (SELECT node, COUNT(*) AS deg FROM (
       |  SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
       |w AS (SELECT CAST(COALESCE(SUM((deg * (deg - 1)) // 2), 0) AS BIGINT)
       |      AS wedges FROM deg),
       |-- Wedge-budget-derived rate denominator (r13): the IDENTICAL
       |-- pure-integer shift search the engine runs on its wedge scalar.
       |dn AS (SELECT CAST(1 AS BIGINT) << ((
       |  SELECT MIN(t.s) FROM range(1, 31) t(s), w
       |  WHERE (w.wedges >> (2 * t.s)) <= 2000000000) + 2) AS den),
       |tagged AS MATERIALIZED (
       |  SELECT a, b, ($hv) % (SELECT den FROM dn) AS hvd FROM e),
       |rates AS (SELECT UNNEST([1, 2, 4]) AS num),
       |kept AS MATERIALIZED (
       |  SELECT r.num, t.a, t.b FROM tagged t JOIN rates r ON t.hvd < r.num),
       |ke AS (SELECT num, CAST(COUNT(*) AS BIGINT) AS kept_edges
       |       FROM kept GROUP BY 1),
       |tri AS (
       |  SELECT k1.num, CAST(COUNT(*) AS BIGINT) AS t
       |  FROM kept k1
       |  JOIN kept k2 ON k2.num = k1.num AND k2.a = k1.b
       |  JOIN kept k3 ON k3.num = k1.num AND k3.a = k1.a AND k3.b = k2.b
       |  GROUP BY 1)
       |SELECT CAST(r.num AS BIGINT) AS num,
       |  (SELECT den FROM dn) AS den,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       |  COALESCE(ke.kept_edges, 0) AS kept_edges,
       |  COALESCE(tri.t, 0) AS tri_sampled,
       |  COALESCE(tri.t, 0) * CAST(((SELECT den FROM dn) // r.num)
       |    * ((SELECT den FROM dn) // r.num)
       |    * ((SELECT den FROM dn) // r.num) AS BIGINT) AS est_triangles,
       |  (SELECT wedges FROM w) AS wedges,
       |  ROUND(CAST(3 * COALESCE(tri.t, 0) * ((SELECT den FROM dn) // r.num)
       |      * ((SELECT den FROM dn) // r.num) * ((SELECT den FROM dn) // r.num)
       |      AS DOUBLE)
       |    / CAST((SELECT wedges FROM w) AS DOUBLE), 6) AS est_global_cc
       |FROM rates r
       |LEFT JOIN ke ON ke.num = r.num
       |LEFT JOIN tri ON tri.num = r.num
       |ORDER BY num""".stripMargin
  }

  /** Hop distances from EVERY node of a seed set at once, frontier BFS
    * keyed by (src, node) — the multi-source generalization of
    * [[bfsHops]]. One loop serves all sources: per round the combined
    * frontier joins the edge relation once, so the round count stays
    * `maxHops` (not sources × maxHops) and the per-round join is keyed
    * on the same node id as the single-source form with src riding
    * along as a payload column. At 1000 sources the frontier relation
    * is at most sources × |V| rows — the standard landmark-selection
    * trade, stated in the Q147 scaladoc.
    */
  def multiSourceBfsHops(edges: DataFrame, nSources: Int, maxHops: Int): DataFrame = {
    val e0 = edges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .localCheckpoint()
    val de = e0.select(col("a").as("node"), col("b").as("dst"))
      .unionAll(e0.select(col("b").as("node"), col("a").as("dst")))
      .localCheckpoint()
    val seeds = de.select(col("node")).distinct()
      .orderBy(asc("node")).limit(nSources)
    var settled = seeds
      .select(col("node").as("src"), col("node"), lit(0).as("hops"))
      .localCheckpoint()
    var frontier = settled
    var h = 1
    while (h <= maxHops && !frontier.isEmpty) {
      val next = frontier.select(col("src"), col("node"))
        .join(de, Seq("node"))
        .select(col("src"), col("dst").as("node")).distinct()
        .join(settled.select(col("src"), col("node")), Seq("src", "node"),
          "left_anti")
        .withColumn("hops", lit(h))
        .localCheckpoint()
      settled = settled.unionAll(next).localCheckpoint()
      frontier = next
      h += 1
    }
    settled
  }

  /** Q147 — harmonic centrality (Boldi & Vigna 2014) of the 20
    * smallest-id parts over the support-pruned co-order graph, horizon
    * ≤ 6 hops: H(s) = Σ_{v≠s reachable} 1/d(s,v). Distances come from
    * one multi-source frontier BFS; the reciprocal sum is carried as
    * the EXACT int64 Σ 60/d (every d ∈ 1..6 divides 60, so h60 is an
    * integer in both engines — no float sums anywhere), and only the
    * final /60 display value is rounded.
    *
    * Scale notes: landmark centrality, not all-pairs — the seed set is
    * a constant, the BFS loop shares each round's single edge join
    * across all seeds, and the oracle's recursive CTE dedups on
    * (src, node, hops) exactly like the engine's anti-join. Output is
    * |seeds| rows.
    */
  val HarmonicSources = 20
  val HarmonicHops = 6

  def q147(spark: SparkSession, dir: String): DataFrame = {
    val edges = Derived.coOrderPairCounts(spark, dir)
      .filter(col("n_pairs") >= 2).select(col("a"), col("b"))
    multiSourceBfsHops(edges, HarmonicSources, HarmonicHops)
      .filter(col("hops") > 0)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("60 DIV hops")).as("h60"))
      .select(col("src").as("p_partkey"), col("n_reached"), col("h60"),
        round(col("h60") / 60.0, 6).as("harmonic"))
      .orderBy(desc("h60"), asc_nulls_first("p_partkey"))
  }

  val q147Oracle: String =
    s"""WITH RECURSIVE op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |capped AS (
       |  SELECT ok, pk FROM (
       |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
       |    FROM op) WHERE rn <= 1000),
       |e AS MATERIALIZED (
       |  SELECT a, b FROM (
       |    SELECT c1.pk AS a, c2.pk AS b, COUNT(*) AS c
       |    FROM capped c1 JOIN capped c2 ON c1.ok = c2.ok AND c1.pk < c2.pk
       |    GROUP BY 1, 2)
       |  WHERE c >= 2),
       |de AS MATERIALIZED (SELECT a AS node, b AS dst FROM e
       |                    UNION ALL SELECT b AS node, a AS dst FROM e),
       |seeds AS (SELECT DISTINCT node FROM de ORDER BY node LIMIT $HarmonicSources),
       |bfs AS (
       |  SELECT node AS src, node AS node, 0 AS hops FROM seeds
       |  UNION
       |  SELECT bfs.src, de.dst AS node, bfs.hops + 1 AS hops
       |  FROM bfs JOIN de ON de.node = bfs.node
       |  WHERE bfs.hops < $HarmonicHops),
       |dist AS (
       |  SELECT src, node, MIN(hops) AS d FROM bfs GROUP BY 1, 2)
       |SELECT src AS p_partkey, CAST(COUNT(*) AS BIGINT) AS n_reached,
       |  CAST(SUM(60 // d) AS BIGINT) AS h60,
       |  ROUND(SUM(60 // d) / 60.0, 6) AS harmonic
       |FROM dist WHERE d > 0
       |GROUP BY 1
       |ORDER BY h60 DESC, p_partkey NULLS FIRST""".stripMargin

  /** Synchronized label propagation (Raghavan et al. 2007, made
    * deterministic): every node starts labeled with its own id; each
    * round, every node simultaneously adopts the most frequent label
    * among its neighbors, ties broken toward the smaller label. The
    * async/random-order variants of LPA are irreproducible by design;
    * the synchronous min-tiebreak form is a pure dataflow — identical in
    * any engine — at the cost of possible 2-cycles, which a fixed round
    * count bounds.
    *
    * Scale shape: each round is ONE edge-keyed join (labels are a
    * node-keyed relation, edges shuffle-keyed on dst) + one
    * (node, label) count + one per-node argmax window — all
    * AQE-skew-splittable, no driver state. Rounds are O(diameter)-few by
    * the algorithm's published convergence behavior.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    val e0 = edges.localCheckpoint()
    val de = e0.select(col("a").as("node"), col("b").as("dst"))
      .unionAll(e0.select(col("b").as("node"), col("a").as("dst")))
      .localCheckpoint()
    var labels = de.select(col("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint()
    val byNode = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(desc("cnt"), asc("nl"))
    for (_ <- 1 to rounds) {
      val votes = de
        .join(labels.select(col("node").as("dst"), col("label").as("nl")),
          Seq("dst"))
        .groupBy(col("node"), col("nl")).agg(count(lit(1)).as("cnt"))
      labels = votes.withColumn("rn", row_number().over(byNode))
        .filter(col("rn") === 1)
        .select(col("node"), col("nl").as("label"))
        .localCheckpoint()
    }
    labels
  }

  /** Q156 — label-propagation communities (3 synchronized rounds) over
    * the support-pruned co-order graph: the 25 largest communities by
    * member count. Complements the exact star-contraction CC (Q67/Q68)
    * with the density-sensitive community notion LPA finds — CC merges
    * everything reachable; LPA splits a connected graph along sparse
    * cuts.
    */
  val LpaRounds = 3

  def q156(spark: SparkSession, dir: String): DataFrame =
    // Since r11 the LPA assignment is the bucketed
    // [[Derived.lpaLabels]] ARTIFACT (Q342 shares it): the 3
    // join+window rounds run once per dataset drop, not per consumer.
    Derived.lpaLabels(spark, dir)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("min_member"))
      .orderBy(desc("n_members"), asc_nulls_first("community"))
      .limit(25)

  val q156Oracle: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |capped AS (
      |  SELECT ok, pk FROM (
      |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
      |    FROM op) WHERE rn <= 1000),
      |e AS MATERIALIZED (
      |  SELECT a, b FROM (
      |    SELECT c1.pk AS a, c2.pk AS b, COUNT(*) AS c
      |    FROM capped c1 JOIN capped c2 ON c1.ok = c2.ok AND c1.pk < c2.pk
      |    GROUP BY 1, 2)
      |  WHERE c >= 2),
      |de AS MATERIALIZED (SELECT a AS node, b AS dst FROM e
      |                    UNION ALL SELECT b AS node, a AS dst FROM e),
      |l0 AS (SELECT DISTINCT node, node AS label FROM de),
      |v1 AS (SELECT de.node, l0.label, COUNT(*) AS cnt
      |       FROM de JOIN l0 ON l0.node = de.dst GROUP BY 1, 2),
      |l1 AS (SELECT node, label FROM (
      |  SELECT node, label, ROW_NUMBER() OVER (
      |    PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM v1)
      |  WHERE rn = 1),
      |v2 AS (SELECT de.node, l1.label, COUNT(*) AS cnt
      |       FROM de JOIN l1 ON l1.node = de.dst GROUP BY 1, 2),
      |l2 AS (SELECT node, label FROM (
      |  SELECT node, label, ROW_NUMBER() OVER (
      |    PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM v2)
      |  WHERE rn = 1),
      |v3 AS (SELECT de.node, l2.label, COUNT(*) AS cnt
      |       FROM de JOIN l2 ON l2.node = de.dst GROUP BY 1, 2),
      |l3 AS (SELECT node, label FROM (
      |  SELECT node, label, ROW_NUMBER() OVER (
      |    PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM v3)
      |  WHERE rn = 1)
      |SELECT label AS community, COUNT(*) AS n_members, MIN(node) AS min_member
      |FROM l3
      |GROUP BY 1
      |ORDER BY n_members DESC, community NULLS FIRST
      |LIMIT 25""".stripMargin

  /** Q162 — degree assortativity (Newman 2002) of the support-pruned
    * co-order graph: the Pearson correlation of endpoint degrees over the
    * directed edge list (each undirected edge contributes both
    * orientations). Positive r = hubs prefer hubs; negative r = hub-leaf
    * (the typical basket-graph shape). One number that predicts how
    * skew-prone every downstream graph join is — the graph-family sibling
    * of Q151's join-key skew profile.
    *
    * Exactness: degrees and the five correlation sums are exact int64
    * (deg ≤ the support-pruned max degree, far inside int64 at any scale
    * that fits a machine word of edges); r is one final float expression
    * over the exactly-cast sums, rounded to 4 (Q125/Q161 discipline).
    *
    * Scale notes: consumes the bucketed [[Derived.coOrderPairCounts]]
    * artifact (no rebuild); degrees are one groupBy of the edge list; the
    * degree join back to edges is co-keyed on the endpoint; the final
    * reduce is a single-row aggregate. No row-granularity sort, no
    * enumeration beyond the edge list itself.
    */
  def q162(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Derived.coOrderPairCounts(spark, dir)
      .filter(col("n_pairs") >= 2).select(col("a"), col("b"))
    val directed = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    val deg = directed.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("d"))
    val ed = directed
      .join(deg.select(col("node").as("src"), col("d").as("dx")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("d").as("dy")), Seq("dst"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val sums = ed.agg(
      count(lit(1)).as("m"),
      sum(col("dx")).cast("double").as("sx"),
      sum(col("dy")).cast("double").as("sy"),
      sum(col("dx") * col("dx")).cast("double").as("sxx"),
      sum(col("dy") * col("dy")).cast("double").as("syy"),
      sum(col("dx") * col("dy")).cast("double").as("sxy"))
    // NULL on a degree-regular graph (zero degree variance, e.g. one
    // isolated edge) — the Q125 degenerate rule, mirrored by NULLIF.
    val num = col("m").cast("double") * col("sxy") - col("sx") * col("sy")
    val den =
      sqrt((col("m").cast("double") * col("sxx") - col("sx") * col("sx")) *
        (col("m").cast("double") * col("syy") - col("sy") * col("sy")))
    nNodes.crossJoin(sums)
      .select(col("n_nodes"), (col("m") / 2).cast("long").as("n_edges"),
        round(num / when(den =!= 0, den), 4).as("assortativity"))
  }

  val q162Oracle: String =
    """WITH op AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |capped AS (
      |  SELECT ok, pk FROM (
      |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
      |    FROM op) WHERE rn <= 1000),
      |pairs AS (
      |  SELECT o1.pk AS a, o2.pk AS b
      |  FROM capped o1 JOIN capped o2 ON o1.ok = o2.ok AND o1.pk < o2.pk
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= 2),
      |directed AS (
      |  SELECT a AS src, b AS dst FROM pairs
      |  UNION ALL SELECT b, a FROM pairs),
      |deg AS (SELECT src AS node, COUNT(*) AS d FROM directed GROUP BY 1),
      |ed AS (
      |  SELECT da.d AS dx, db.d AS dy
      |  FROM directed e
      |  JOIN deg da ON da.node = e.src
      |  JOIN deg db ON db.node = e.dst)
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
      |  CAST(COUNT(*) // 2 AS BIGINT) AS n_edges,
      |  ROUND((CAST(COUNT(*) AS DOUBLE)*CAST(SUM(dx*dy) AS DOUBLE)
      |           - CAST(SUM(dx) AS DOUBLE)*CAST(SUM(dy) AS DOUBLE)) /
      |        NULLIF(SQRT((CAST(COUNT(*) AS DOUBLE)*CAST(SUM(dx*dx) AS DOUBLE)
      |           - CAST(SUM(dx) AS DOUBLE)*CAST(SUM(dx) AS DOUBLE)) *
      |             (CAST(COUNT(*) AS DOUBLE)*CAST(SUM(dy*dy) AS DOUBLE)
      |           - CAST(SUM(dy) AS DOUBLE)*CAST(SUM(dy) AS DOUBLE))), 0), 4)
      |    AS assortativity
      |FROM ed""".stripMargin

  /** Q168 — Newman modularity of the Q156 label-propagation communities:
    * Q = Σ_c [ intra_c/m − (d_c/2m)² ] over the support-pruned co-order
    * graph, computed as Σ_c [ intra2_c/2m − (d_c/2m)² ] from the directed
    * edge list (intra2 = both orientations of intra-community edges).
    * The community QUALITY score Q156 itself cannot see — near 0 means
    * the partition explains no more edge mass than a random degree-
    * preserving graph, so downstream per-community processing won't
    * localize work. Counts are exact int64; Q is one float expression
    * over the exactly-cast sums, rounded to 4.
    *
    * Scale notes: LPA is the Q156 engine (3 bounded rounds, one
    * join+groupBy each); the modularity terms add two label-keyed
    * broadcast-able joins and a communities-bounded reduce. Nothing
    * enumerates beyond the edge list.
    */
  def q168(spark: SparkSession, dir: String): DataFrame = {
    val edges = Derived.coOrderPairCounts(spark, dir)
      .filter(col("n_pairs") >= 2).select(col("a"), col("b"))
      .localCheckpoint()
    // Consume the Derived.lpaLabels ARTIFACT like Q156/Q342 do (r13):
    // this gate previously re-ran the 3 LPA join+window rounds per
    // execution — the exact per-report recompute the artifact exists to
    // remove. Same edges (support-pruned co-order graph), same rounds,
    // identical labels, so the modularity terms are unchanged.
    val labels = Derived.lpaLabels(spark, dir)
    val directed = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
    val deg = directed.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("d"))
    val mRow = edges.agg(count(lit(1)).as("m"))
    val intra2 = directed
      .join(labels.select(col("node").as("src"), col("label").as("la")),
        Seq("src"))
      .join(labels.select(col("node").as("dst"), col("label").as("lb")),
        Seq("dst"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("intra2"))
    val dsum = labels.join(deg, Seq("node"))
      .groupBy(col("label")).agg(sum(col("d")).as("dtot"))
    val terms = dsum.join(intra2, Seq("label"), "left")
      .select(col("label"), coalesce(col("intra2"), lit(0L)).as("intra2"),
        col("dtot"))
    terms.crossJoin(mRow)
      .agg(count(lit(1)).as("n_communities"),
        max(col("m")).as("n_edges"),
        round(sum(col("intra2").cast("double") / (lit(2) * col("m")) -
          (col("dtot").cast("double") / (lit(2) * col("m"))) *
            (col("dtot").cast("double") / (lit(2) * col("m")))), 4)
          .as("modularity"))
  }

  val q168Oracle: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |capped AS (
      |  SELECT ok, pk FROM (
      |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
      |    FROM op) WHERE rn <= 1000),
      |e AS MATERIALIZED (
      |  SELECT a, b FROM (
      |    SELECT c1.pk AS a, c2.pk AS b, COUNT(*) AS c
      |    FROM capped c1 JOIN capped c2 ON c1.ok = c2.ok AND c1.pk < c2.pk
      |    GROUP BY 1, 2)
      |  WHERE c >= 2),
      |de AS MATERIALIZED (SELECT a AS node, b AS dst FROM e
      |                    UNION ALL SELECT b AS node, a AS dst FROM e),
      |l0 AS (SELECT DISTINCT node, node AS label FROM de),
      |v1 AS (SELECT de.node, l0.label, COUNT(*) AS cnt
      |       FROM de JOIN l0 ON l0.node = de.dst GROUP BY 1, 2),
      |l1 AS (SELECT node, label FROM (
      |  SELECT node, label, ROW_NUMBER() OVER (
      |    PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM v1)
      |  WHERE rn = 1),
      |v2 AS (SELECT de.node, l1.label, COUNT(*) AS cnt
      |       FROM de JOIN l1 ON l1.node = de.dst GROUP BY 1, 2),
      |l2 AS (SELECT node, label FROM (
      |  SELECT node, label, ROW_NUMBER() OVER (
      |    PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM v2)
      |  WHERE rn = 1),
      |v3 AS (SELECT de.node, l2.label, COUNT(*) AS cnt
      |       FROM de JOIN l2 ON l2.node = de.dst GROUP BY 1, 2),
      |l3 AS MATERIALIZED (SELECT node, label FROM (
      |  SELECT node, label, ROW_NUMBER() OVER (
      |    PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM v3)
      |  WHERE rn = 1),
      |m AS (SELECT COUNT(*) AS m FROM e),
      |deg AS (SELECT node, COUNT(*) AS d FROM de GROUP BY 1),
      |intra AS (
      |  SELECT la.label, COUNT(*) AS intra2
      |  FROM de JOIN l3 la ON la.node = de.node JOIN l3 lb ON lb.node = de.dst
      |  WHERE la.label = lb.label
      |  GROUP BY 1),
      |dsum AS (
      |  SELECT l3.label, CAST(SUM(deg.d) AS BIGINT) AS dtot
      |  FROM l3 JOIN deg ON deg.node = l3.node GROUP BY 1),
      |terms AS (
      |  SELECT ds.label, COALESCE(i.intra2, 0) AS intra2, ds.dtot
      |  FROM dsum ds LEFT JOIN intra i ON i.label = ds.label)
      |SELECT
      |  CAST(COUNT(*) AS BIGINT) AS n_communities,
      |  (SELECT m FROM m) AS n_edges,
      |  ROUND(SUM(CAST(intra2 AS DOUBLE)/(2*(SELECT m FROM m))
      |        - (CAST(dtot AS DOUBLE)/(2*(SELECT m FROM m)))
      |          * (CAST(dtot AS DOUBLE)/(2*(SELECT m FROM m)))), 4)
      |    AS modularity
      |FROM terms""".stripMargin

  /** Q197 — HITS hubs & authorities (Kleinberg 1999) on the
    * customer–part purchase bipartite graph (distinct (custkey, partkey)
    * edges through orders⋈lineitem): authority(part) answers "which parts
    * do the broadest buyers concentrate on", the bipartite ranking Q106's
    * PageRank (a unipartite co-order walk) cannot express. Three
    * half-steps with hubs initialized to 1: a1 = Bᵀ1 (part degree),
    * h1 = B a1, a2 = Bᵀ h1 — every score an EXACT int64 sum (the Q107
    * all-integer discipline; no normalization divide until the single
    * final share). Top-20 authorities by (a2 DESC, partkey), each with
    * its degree, a1, a2, and a2's share of Σa2 (one divide, round 6).
    *
    * Scale notes: each half-step is one co-keyed join+groupBy on the edge
    * relation — shuffle on custkey then partkey, never quadratic; the
    * Σa2 normalizer is a 1-row broadcast. Score magnitudes grow like
    * edges·deg² per full iteration — int64-safe at any TPC-H SF here
    * (≤3 half-steps); a deeper tower would move to DECIMAL(38,0) sums,
    * the documented 100 TB path.
    */
  def q197(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val edges = c.orders.select(col("o_orderkey"), col("o_custkey"))
      .join(c.lineitem.select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("ck"), col("l_partkey").as("pk"))
      .distinct().localCheckpoint()
    val a1 = edges.groupBy(col("pk")).agg(count(lit(1)).as("a1"))
    val h1 = edges.join(a1, Seq("pk"))
      .groupBy(col("ck")).agg(sum(col("a1")).as("h1"))
    val a2 = edges.join(h1, Seq("ck"))
      .groupBy(col("pk")).agg(count(lit(1)).as("degree"), sum(col("h1")).as("a2"))
    val tot = a2.agg(sum(col("a2")).cast("double").as("tot_a2"))
    a2.join(a1, Seq("pk"))
      .crossJoin(broadcast(tot))
      .select(col("pk").as("p_partkey"), col("degree"), col("a1"), col("a2"),
        round(col("a2").cast("double") / col("tot_a2"), 6).as("a2_share"))
      .orderBy(desc("a2"), asc_nulls_first("p_partkey"))
      .limit(20)
  }

  val q197Oracle: String =
    """WITH e AS (
      |  SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |a1 AS (SELECT pk, COUNT(*) AS a1 FROM e GROUP BY 1),
      |h1 AS (SELECT e.ck, SUM(a1.a1) AS h1
      |       FROM e JOIN a1 ON a1.pk = e.pk GROUP BY 1),
      |a2 AS (SELECT e.pk, COUNT(*) AS degree, SUM(h1.h1) AS a2
      |       FROM e JOIN h1 ON h1.ck = e.ck GROUP BY 1)
      |SELECT a2.pk AS p_partkey, CAST(degree AS BIGINT) AS degree,
      |  CAST(a1.a1 AS BIGINT) AS a1, CAST(a2.a2 AS BIGINT) AS a2,
      |  ROUND(CAST(a2.a2 AS DOUBLE)
      |    / CAST((SELECT SUM(a2) FROM a2) AS DOUBLE), 6) AS a2_share
      |FROM a2 JOIN a1 ON a1.pk = a2.pk
      |ORDER BY a2 DESC, p_partkey
      |LIMIT 20""".stripMargin

  /** Q222 — whole-graph topology profile of the co-order graph: node
    * and edge counts, density, the degree spread, and Newman's degree
    * assortativity coefficient (Newman 2002) — the one-row summary
    * that says whether the graph is hub-dominated (r < 0: high-degree
    * nodes attach to low-degree ones) or stratified (r > 0), which
    * decides join-strategy questions (skew salting, hub isolation)
    * before any iterative algorithm runs on it. Q162 reports
    * assortativity alone on the SUPPORT-PRUNED graph (n_pairs ≥ 2);
    * this row profiles the full unpruned topology — comparing the two
    * assortativities shows what support pruning does to hub structure.
    *
    * Assortativity is the Pearson correlation of endpoint degrees over
    * the DIRECTED edge list (both orientations, the standard
    * symmetrization): r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²). The linear
    * sums stay exact int64; the product sums and both cross-products
    * are carried in DECIMAL(38,0)/HUGEINT (r12: the sf10 sweep measured
    * the old int64 fence THROWING at 180M directed edges — Σj² ≈
    * 2.6·10²⁰), leaving ONE double division at the end.
    *
    * Scale notes: degree table is one aggregate over the bucketed edge
    * artifact; the two degree joins are node-keyed; every reported
    * number is a scalar aggregate. No iteration, no driver state.
    */
  def q222(spark: SparkSession, dir: String): DataFrame = {
    val e = Derived.coOrderPairCounts(spark, dir).select(col("a"), col("b"))
    val de = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
    val deg = de.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val degStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      min(col("deg")).as("deg_min"),
      max(col("deg")).as("deg_max"),
      sum(col("deg")).cast("long").as("deg_sum"))
    val joined = de
      .join(deg.select(col("src"), col("deg").as("dsrc")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("deg").as("ddst")), Seq("dst"))
    val sums = joined.agg(
      count(lit(1)).as("m"),
      sum(col("dsrc")).cast("long").as("sj"),
      sum(col("dsrc") * col("ddst")).cast("long").as("sjk"),
      sum(col("dsrc") * col("dsrc")).cast("long").as("sjj"))
    sums.crossJoin(degStats)
      .select(
        col("n_nodes"),
        (col("m") / lit(2L)).cast("long").as("n_edges"),
        round(col("m").cast("double") /
          (col("n_nodes") * (col("n_nodes") - lit(1L))), 6).as("density"),
        col("deg_min"),
        round(col("deg_sum").cast("double") / col("n_nodes"), 2).as("deg_avg"),
        col("deg_max"),
        // cross-products in DECIMAL(38,0)/HUGEINT (the Q338 widening):
        // the docstring's int64 fence (M·Σjk < 2⁶³) is real — the r12
        // sf10 sweep measured this exact site THROWING at 180M directed
        // edges (Σj ≈ 1.6·10¹⁰ ⇒ Σj² ≈ 2.6·10²⁰); in decimal the r stays
        // exact to 10³⁸ and the one divide is unchanged in-range
        round((col("m").cast("decimal(38,0)") * col("sjk") -
          col("sj").cast("decimal(38,0)") * col("sj")).cast("double") /
          (col("m").cast("decimal(38,0)") * col("sjj") -
            col("sj").cast("decimal(38,0)") * col("sj")).cast("double"), 6)
          .as("assortativity"))
  }

  val q222Oracle: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |capped AS (
      |  SELECT ok, pk FROM (
      |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
      |    FROM op) WHERE rn <= 1000),
      |e AS (
      |  SELECT DISTINCT c1.pk AS a, c2.pk AS b
      |  FROM capped c1 JOIN capped c2 ON c1.ok = c2.ok AND c1.pk < c2.pk),
      |de AS (
      |  SELECT a AS src, b AS dst FROM e
      |  UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT src, COUNT(*) AS deg FROM de GROUP BY 1),
      |ds AS (
      |  SELECT COUNT(*) AS n_nodes, MIN(deg) AS deg_min, MAX(deg) AS deg_max,
      |    CAST(SUM(deg) AS BIGINT) AS deg_sum
      |  FROM deg),
      |sums AS (
      |  SELECT COUNT(*) AS m,
      |    CAST(SUM(d1.deg) AS BIGINT) AS sj,
      |    CAST(SUM(CAST(d1.deg AS HUGEINT) * d2.deg) AS HUGEINT) AS sjk,
      |    CAST(SUM(CAST(d1.deg AS HUGEINT) * d1.deg) AS HUGEINT) AS sjj
      |  FROM de
      |  JOIN deg d1 ON d1.src = de.src
      |  JOIN deg d2 ON d2.src = de.dst)
      |SELECT n_nodes, CAST(m // 2 AS BIGINT) AS n_edges,
      |  ROUND(CAST(m AS DOUBLE) / (n_nodes * (n_nodes - 1)), 6) AS density,
      |  deg_min,
      |  ROUND(CAST(deg_sum AS DOUBLE) / n_nodes, 2) AS deg_avg,
      |  deg_max,
      |  ROUND(CAST(CAST(m AS HUGEINT) * sjk - CAST(sj AS HUGEINT) * sj AS DOUBLE)
      |    / CAST(CAST(m AS HUGEINT) * sjj - CAST(sj AS HUGEINT) * sj AS DOUBLE),
      |    6) AS assortativity
      |FROM sums CROSS JOIN ds""".stripMargin

  /** Q265 — personalized PageRank / random walk with restart from the
    * min-id landmark part over the co-order graph (Haveliwala 2002;
    * Tong, Faloutsos & Pan 2006): Q106's PageRank ranks GLOBAL
    * centrality, this ranks proximity TO ONE NODE — the
    * "related items" primitive behind item-to-item recommendation.
    * Three synchronous iterations of r' = 0.15·δ_seed + 0.85·Pᵀr from
    * r₀ = δ_seed over the same degree-normalized directed expansion as
    * Q106, unrolled identically in both engines; mass stays
    * concentrated on the seed's neighborhood, so the score relation is
    * FRONTIER-sparse (≤ 3-hop ball), never graph-wide.
    *
    * Determinism: the restart indicator rides the full-outer seed join
    * (s IS NOT NULL ⇔ node = seed — no seed value needed on unmatched
    * rows); per-node inbound sums are the Q106 tolerance class
    * (~1e-15, absorbed by round 6 BEFORE the rank, p_partkey
    * tie-break).
    *
    * Scale notes: reuses the bucketed co-order artifact; each
    * iteration is one src-keyed join + dst-keyed aggregate over edges
    * INCIDENT TO THE CURRENT FRONTIER — at web scale this is the point
    * of PPR vs PageRank: compute proportional to the seed's ball, not
    * the graph.
    */
  def q265(spark: SparkSession, dir: String): DataFrame = {
    val e = Derived.coOrderPairCounts(spark, dir).select(col("a"), col("b"))
    val de = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
    val deg = de.groupBy(col("src")).agg(count(lit(1)).cast("long").as("deg"))
    val seed = deg.agg(min(col("src")).as("s"))
    val r0 = seed.select(col("s").as("node"), lit(1.0).as("pr"))
    def step(r: DataFrame): DataFrame = {
      val contrib = de
        .join(r.withColumnRenamed("node", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(col("pr") / col("deg")).as("m"))
        .select(col("dst").as("cnode"), col("m"))
      contrib.join(seed, col("cnode") === col("s"), "full_outer")
        .select(coalesce(col("cnode"), col("s")).as("node"),
          (lit(0.85) * coalesce(col("m"), lit(0.0)) +
            when(col("s").isNotNull, lit(0.15)).otherwise(lit(0.0))).as("pr"))
    }
    val r3 = step(step(step(r0)))
    r3.crossJoin(broadcast(seed))
      .select(col("node").as("p_partkey"),
        round(col("pr"), 6).as("ppr"),
        when(col("node") === col("s"), 1L).otherwise(0L).as("is_seed"))
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("ppr"), asc("p_partkey"))).cast("long"))
      .select(col("rank"), col("p_partkey"), col("ppr"), col("is_seed"))
      .orderBy(asc("rank"))
      .limit(25)
  }

  val q265Oracle: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |capped AS (
      |  SELECT ok, pk FROM (
      |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
      |    FROM op) WHERE rn <= 1000),
      |e AS (
      |  SELECT DISTINCT c1.pk AS a, c2.pk AS b
      |  FROM capped c1 JOIN capped c2 ON c1.ok = c2.ok AND c1.pk < c2.pk),
      |de AS (SELECT a AS src, b AS dst FROM e
      |       UNION ALL SELECT b AS src, a AS dst FROM e),
      |deg AS (SELECT src, COUNT(*) AS deg FROM de GROUP BY 1),
      |seed AS (SELECT MIN(src) AS s FROM deg),
      |r0 AS (SELECT s AS node, CAST(1.0 AS DOUBLE) AS pr FROM seed),
      |c1r AS (SELECT de.dst AS cnode, SUM(r0.pr / deg.deg) AS m
      |        FROM de JOIN r0 ON r0.node = de.src
      |        JOIN deg ON deg.src = de.src GROUP BY 1),
      |r1 AS (SELECT COALESCE(c.cnode, s.s) AS node,
      |         0.85 * COALESCE(c.m, 0.0)
      |           + CASE WHEN s.s IS NOT NULL THEN 0.15 ELSE 0.0 END AS pr
      |       FROM c1r c FULL JOIN seed s ON c.cnode = s.s),
      |c2r AS (SELECT de.dst AS cnode, SUM(r1.pr / deg.deg) AS m
      |        FROM de JOIN r1 ON r1.node = de.src
      |        JOIN deg ON deg.src = de.src GROUP BY 1),
      |r2 AS (SELECT COALESCE(c.cnode, s.s) AS node,
      |         0.85 * COALESCE(c.m, 0.0)
      |           + CASE WHEN s.s IS NOT NULL THEN 0.15 ELSE 0.0 END AS pr
      |       FROM c2r c FULL JOIN seed s ON c.cnode = s.s),
      |c3r AS (SELECT de.dst AS cnode, SUM(r2.pr / deg.deg) AS m
      |        FROM de JOIN r2 ON r2.node = de.src
      |        JOIN deg ON deg.src = de.src GROUP BY 1),
      |r3 AS (SELECT COALESCE(c.cnode, s.s) AS node,
      |         0.85 * COALESCE(c.m, 0.0)
      |           + CASE WHEN s.s IS NOT NULL THEN 0.15 ELSE 0.0 END AS pr
      |       FROM c3r c FULL JOIN seed s ON c.cnode = s.s)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY ROUND(pr, 6) DESC, node)
      |    AS BIGINT) AS rank,
      |  node AS p_partkey, ROUND(pr, 6) AS ppr,
      |  CAST(CASE WHEN node = (SELECT s FROM seed) THEN 1 ELSE 0 END
      |    AS BIGINT) AS is_seed
      |FROM r3
      |ORDER BY rank
      |LIMIT 25""".stripMargin

  /** Q307 — frequent 3-itemsets over co-ordered parts (Agrawal &
    * Srikant 1994's itemset lattice, third level): Q107 reads the pair
    * level; this asks which part TRIPLES recur across baskets and
    * whether their support exceeds what the three marginals predict —
    * lift₃ = n²·c_abc/(c_a·c_b·c_c) — the bundle signal a
    * pair-level rule can't see. Top-20 supported triples (support ≥ 2).
    *
    * Determinism: baskets truncate to their 50 smallest part ids
    * (declared — the tighter triple-level sibling of the pair
    * artifact's MaxBasket = 1000; a no-op on the ≈7-item fixtures,
    * and the ENFORCED per-order bound that keeps the within-basket
    * triple expansion B³/6 from exploding on a degenerate basket);
    * all counts are exact int64; lift₃ is one fixed expression whose
    * integer products stay exact in the double to ~10¹⁵ (n_orders ≈
    * 3·10⁷ at the documented margin); ties break on (support desc,
    * p1, p2, p3).
    *
    * Scale notes: the triple expansion is a per-order 3-way equi-join
    * on the order key — work per order is capped-B³/6, so the stage is
    * LINEAR in orders (the same argument as the pair artifact build);
    * marginals are one aggregate; TakeOrdered bounds the output.
    */
  def q307(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val op = c.lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val capped = op
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("ok")).orderBy(col("pk"))))
      .filter(col("rn") <= 50)
      .select(col("ok"), col("pk"))
      .localCheckpoint()
    val nOrders = capped.agg(countDistinct(col("ok")).cast("long")
      .as("n_orders"))
    val item = capped.groupBy(col("pk"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val a = capped.select(col("ok"), col("pk").as("p1"))
    val b = capped.select(col("ok"), col("pk").as("p2"))
    val d = capped.select(col("ok"), col("pk").as("p3"))
    val trip = a.join(b, Seq("ok")).filter(col("p1") < col("p2"))
      .join(d, Seq("ok")).filter(col("p2") < col("p3"))
      .groupBy(col("p1"), col("p2"), col("p3"))
      .agg(count(lit(1)).cast("long").as("n_all3"))
      .filter(col("n_all3") >= 2)
    trip
      .join(item.select(col("pk").as("p1"), col("cnt").as("c1")), Seq("p1"))
      .join(item.select(col("pk").as("p2"), col("cnt").as("c2")), Seq("p2"))
      .join(item.select(col("pk").as("p3"), col("cnt").as("c3")), Seq("p3"))
      .crossJoin(broadcast(nOrders))
      .select(col("p1"), col("p2"), col("p3"), col("n_all3"),
        expr("ROUND(CAST(n_all3 AS DOUBLE) * n_orders * n_orders" +
          " / (CAST(c1 AS DOUBLE) * c2 * c3), 4)").as("lift3"))
      .orderBy(desc("n_all3"), asc("p1"), asc("p2"), asc("p3"))
      .limit(20)
  }

  // `capped`/`pr` carry the MATERIALIZED hint: inlined three ways, the
  // planner loses the ok-equality join keys and falls back to an
  // inequality join across ALL orders (measured: minutes vs 0.15 s).
  val q307Oracle: String =
    """WITH op AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |capped AS MATERIALIZED (
      |  SELECT ok, pk FROM (
      |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk)
      |      AS rn
      |    FROM op) WHERE rn <= 50),
      |no AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders
      |       FROM capped),
      |item AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS cnt
      |         FROM capped GROUP BY 1),
      |pr AS MATERIALIZED (
      |  SELECT c1.ok, c1.pk AS p1, c2.pk AS p2
      |  FROM capped c1 JOIN capped c2 ON c2.ok = c1.ok AND c1.pk < c2.pk),
      |trip AS (
      |  SELECT p.p1, p.p2, d.pk AS p3,
      |    CAST(COUNT(*) AS BIGINT) AS n_all3
      |  FROM pr p JOIN capped d ON d.ok = p.ok AND p.p2 < d.pk
      |  GROUP BY 1, 2, 3
      |  HAVING COUNT(*) >= 2)
      |SELECT t.p1, t.p2, t.p3, t.n_all3,
      |  ROUND(CAST(t.n_all3 AS DOUBLE) * n.n_orders * n.n_orders
      |    / (CAST(i1.cnt AS DOUBLE) * i2.cnt * i3.cnt), 4) AS lift3
      |FROM trip t
      |JOIN item i1 ON i1.pk = t.p1
      |JOIN item i2 ON i2.pk = t.p2
      |JOIN item i3 ON i3.pk = t.p3
      |CROSS JOIN no n
      |ORDER BY t.n_all3 DESC, t.p1, t.p2, t.p3
      |LIMIT 20""".stripMargin

  /** Q317 — rich-club coefficient ladder of the support-pruned co-order
    * graph (Colizza, Flammini, Serrano & Vespignani 2006): for each
    * degree threshold k in the dyadic ladder {1,2,4,8,16,32}, the edge
    * density φ(k) = 2E₍>k₎ / (N₍>k₎(N₍>k₎−1)) among the nodes of degree
    * > k. Reads whether the graph's hubs form a connected oligarchy
    * (φ rising with k — supply-chain cores, celebrity cliques) or stay
    * mutually independent; the verdict compares φ(k) against 2× the
    * whole-graph density by EXACT integer cross-multiplication. The
    * hub-interconnection read that assortativity (Q162, a single
    * correlation) and the k-core (Q122, a membership set) both miss.
    *
    * Determinism: degrees, N₍>k₎, E₍>k₎ and the verdict comparison are
    * exact int64; φ is one single-divide float per rung rounded 6.
    *
    * Scale notes: consumes the bucketed [[Derived.coOrderPairCounts]]
    * artifact (no rebuild); degrees are one groupBy of the edge list;
    * ALL six rungs come from ONE conditional-sum aggregate pass over
    * the degree-joined edges (no per-rung rescan — the ladder explodes
    * from a single summary row, the Q161 struct-array shape). The
    * verdict cross-product E·N² overflows int64 past E·N² ≈ 9.2·10¹⁸
    * (roughly 10⁴–10⁵ nodes at 10⁹–10¹⁰ edges), so the comparison runs
    * in DOUBLE on both engines — exact below 2⁵³ (every fixture scale)
    * and safe for the coarse ≥ verdict beyond it, where non-ANSI int64
    * would wrap silently.
    */
  def q317(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Derived.coOrderPairCounts(spark, dir)
      .filter(col("n_pairs") >= 2).select(col("a"), col("b"))
    val directed = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    val deg = directed.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("d"))
    val ks = Seq(1, 2, 4, 8, 16, 32)
    val edgesDeg = pairs
      .join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
    val etot = edgesDeg.agg(count(lit(1)).as("n_edges"),
      ks.map(k => sum(when(col("da") > k && col("db") > k, 1L)
        .otherwise(0L)).as(s"e_$k")): _*)
    val ntot = deg.agg(count(lit(1)).as("n_nodes"),
      ks.map(k => sum(when(col("d") > k, 1L).otherwise(0L))
        .as(s"n_$k")): _*)
    val rungs = ks.map(k => struct(lit(k.toLong).as("k"),
      col(s"n_$k").as("n_rich"), col(s"e_$k").as("e_rich")))
    etot.crossJoin(ntot)
      .select(col("n_nodes"), col("n_edges"),
        explode(array(rungs: _*)).as("p"))
      .select(col("p.k"), col("p.n_rich"), col("p.e_rich"),
        col("n_nodes"), col("n_edges"))
      .withColumn("phi", expr("CASE WHEN n_rich < 2 THEN NULL ELSE " +
        "ROUND(CAST(2 * e_rich AS DOUBLE) / " +
        "(CAST(n_rich AS DOUBLE) * (n_rich - 1)), 6) END"))
      .withColumn("verdict", expr("CASE WHEN n_rich < 2 " +
        "THEN 'degenerate' WHEN CAST(e_rich AS DOUBLE) * " +
        "(CAST(n_nodes AS DOUBLE) * (n_nodes - 1)) >= " +
        "2 * CAST(n_edges AS DOUBLE) * " +
        "(CAST(n_rich AS DOUBLE) * (n_rich - 1)) THEN 'clubby' " +
        "ELSE 'flat' END"))
      .orderBy(asc("k"))
  }

  val q317Oracle: String =
    """WITH op AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |capped AS (
      |  SELECT ok, pk FROM (
      |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
      |    FROM op) WHERE rn <= 1000),
      |pairs AS (
      |  SELECT o1.pk AS a, o2.pk AS b
      |  FROM capped o1 JOIN capped o2 ON o1.ok = o2.ok AND o1.pk < o2.pk
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= 2),
      |directed AS (
      |  SELECT a AS src, b AS dst FROM pairs
      |  UNION ALL SELECT b, a FROM pairs),
      |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
      |        FROM directed GROUP BY 1),
      |ks AS (SELECT CAST(UNNEST([1, 2, 4, 8, 16, 32]) AS BIGINT) AS k),
      |ed AS (
      |  SELECT da.d AS da, db.d AS db
      |  FROM pairs p
      |  JOIN deg da ON da.node = p.a
      |  JOIN deg db ON db.node = p.b),
      |etot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM ed),
      |ntot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg),
      |er AS (
      |  SELECT k.k,
      |    CAST(SUM(CASE WHEN e.da > k.k AND e.db > k.k THEN 1 ELSE 0 END)
      |      AS BIGINT) AS e_rich
      |  FROM ks k CROSS JOIN ed e GROUP BY 1),
      |nr AS (
      |  SELECT k.k,
      |    CAST(SUM(CASE WHEN d.d > k.k THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_rich
      |  FROM ks k CROSS JOIN deg d GROUP BY 1)
      |SELECT er.k, nr.n_rich, er.e_rich, ntot.n_nodes, etot.n_edges,
      |  CASE WHEN nr.n_rich < 2 THEN NULL ELSE
      |    ROUND(CAST(2 * er.e_rich AS DOUBLE) /
      |    (CAST(nr.n_rich AS DOUBLE) * (nr.n_rich - 1)), 6) END AS phi,
      |  CASE WHEN nr.n_rich < 2 THEN 'degenerate'
      |    WHEN CAST(er.e_rich AS DOUBLE) *
      |      (CAST(ntot.n_nodes AS DOUBLE) * (ntot.n_nodes - 1)) >=
      |      2 * CAST(etot.n_edges AS DOUBLE) *
      |      (CAST(nr.n_rich AS DOUBLE) * (nr.n_rich - 1))
      |    THEN 'clubby' ELSE 'flat' END AS verdict
      |FROM er JOIN nr ON nr.k = er.k, etot, ntot
      |ORDER BY er.k""".stripMargin

  /** Q337 — edge-support (truss) profile of the support-pruned co-order
    * graph (Cohen 2008's k-truss read): for every edge, its SUPPORT =
    * the number of triangles it closes; reported as the support
    * histogram (support → edge count, share, and the max k-truss the
    * edge could belong to, k = support + 2). The EDGE-cohesion
    * completion of the triangle family: Q103 counts triangles per NODE,
    * Q145 normalizes them per node (clustering coefficient), Q122/Q278
    * peel by DEGREE (k-core) — this reads how embedded each
    * RELATIONSHIP is, the quantity k-truss decompositions peel on and
    * the standard spam-edge / bridge-edge screen (support-0 edges are
    * exactly the triangle-free bridges).
    *
    * Determinism: supports, counts and max_truss are exact int64;
    * edge_share is one single-divide float rounded 6. The oriented
    * enumeration counts each triangle once; credited to its 3 edges in
    * canonical (lo, hi) form, identical to the oracle's x<y<z
    * three-way self-join.
    *
    * Scale notes: consumes the bucketed [[Derived.coOrderPairCounts]]
    * artifact (no rebuild); triangles come from [[triangleCorners]]'s
    * degree-oriented intersection (Σ out-deg² ≤ O(m^1.5) work bound,
    * the Q103 defenses), NEVER a per-edge |N(a) ∩ N(b)| join on raw
    * skewed adjacency; the histogram fold is map-side combinable and
    * its output is bounded by the max support, not the edge count.
    */
  def q337(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Derived.coOrderPairCounts(spark, dir)
      .filter(col("n_pairs") >= 2).select(col("a"), col("b"))
      .localCheckpoint()
    val sup = pairs.join(edgeSupport(pairs), Seq("a", "b"), "left")
      .select(coalesce(col("support"), lit(0L)).as("support"))
    val tot = sup.agg(count(lit(1)).cast("long").as("n_total"))
    sup.groupBy(col("support"))
      .agg(count(lit(1)).cast("long").as("n_edges"))
      .crossJoin(broadcast(tot))
      .select(col("support"), col("n_edges"),
        expr("ROUND(CAST(n_edges AS DOUBLE) / n_total, 6)")
          .as("edge_share"),
        (col("support") + 2).as("max_truss"))
      .orderBy(asc("support"))
  }

  val q337Oracle: String =
    """WITH op AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |capped AS (
      |  SELECT ok, pk FROM (
      |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
      |    FROM op) WHERE rn <= 1000),
      |pairs AS (
      |  SELECT o1.pk AS a, o2.pk AS b
      |  FROM capped o1 JOIN capped o2 ON o1.ok = o2.ok AND o1.pk < o2.pk
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= 2),
      |tri AS (
      |  SELECT p1.a AS x, p1.b AS y, p2.b AS z
      |  FROM pairs p1
      |  JOIN pairs p2 ON p2.a = p1.b
      |  JOIN pairs p3 ON p3.a = p1.a AND p3.b = p2.b),
      |cred AS (
      |  SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS support FROM (
      |    SELECT x AS a, y AS b FROM tri
      |    UNION ALL SELECT x AS a, z AS b FROM tri
      |    UNION ALL SELECT y AS a, z AS b FROM tri) e
      |  GROUP BY 1, 2),
      |sup AS (
      |  SELECT COALESCE(c.support, 0) AS support
      |  FROM pairs p LEFT JOIN cred c ON c.a = p.a AND c.b = p.b),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM sup)
      |SELECT CAST(s.support AS BIGINT) AS support,
      |  CAST(COUNT(*) AS BIGINT) AS n_edges,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) / t.n_total, 6) AS edge_share,
      |  CAST(s.support + 2 AS BIGINT) AS max_truss
      |FROM sup s CROSS JOIN tot t
      |GROUP BY s.support, t.n_total
      |ORDER BY support""".stripMargin

  /** Shared per-edge triangle-support relation: for an a<b edge list,
    * one row per edge with the number of triangles it closes, from the
    * degree-oriented enumeration (Σ out-deg² bound — never a per-edge
    * set intersection on raw skewed adjacency). Support-0 edges are
    * ABSENT (callers left-join + coalesce when they need them).
    */
  private def edgeSupport(edges: DataFrame): DataFrame =
    triangleCorners(edges)
      .filter(col("node") === col("u"))
      .select(explode(array(
        struct(least(col("u"), col("v")).as("lo"),
          greatest(col("u"), col("v")).as("hi")),
        struct(least(col("u"), col("w")).as("lo"),
          greatest(col("u"), col("w")).as("hi")),
        struct(least(col("v"), col("w")).as("lo"),
          greatest(col("v"), col("w")).as("hi")))).as("ed"))
      .groupBy(col("ed.lo").as("a"), col("ed.hi").as("b"))
      .agg(count(lit(1)).as("support"))

  /** Q341 — 4-truss peeling profile of the support-pruned co-order
    * graph (Cohen 2008; the truss sibling of Q278's k-core peeling):
    * synchronized rounds delete every edge with support < 2 (fewer
    * than two triangles), and the profile reports alive edge/node
    * counts for rounds 0..8 with the init/peeling/stable phase read.
    * Where the k-core keeps nodes with enough NEIGHBORS, the k-truss
    * keeps relationships embedded in enough TRIANGLES — the standard
    * stronger community backbone (a 4-truss is always inside a 3-core,
    * never vice versa). Q337 reports the round-0 support histogram;
    * this gates the COLLAPSE DYNAMICS of peeling on it.
    *
    * Determinism: synchronized peeling is order-free (the round-r
    * deletion set depends only on the round-(r−1) edge SET), so both
    * engines walk identical set sequences; all outputs are exact
    * counts. The 8-round cap is declared profile depth (the phase
    * column says whether the walk stabilized inside the window), and
    * peeling is MONOTONE, so an unchanged edge count proves the
    * fixpoint — later rounds are emitted without recompute (the Q278
    * short-circuit).
    *
    * Scale notes: each round recounts support via the degree-oriented
    * enumeration on the SHRINKING edge set (O(|E_r|^1.5) per round,
    * constant rounds); localCheckpoint truncates per-round lineage
    * exactly as Q106/Q278 do. The oracle is GENERATED unrolled SQL
    * (the Q122 discipline — round counts cannot drift) with
    * MATERIALIZED stage hints (the Q307 lesson: inlined, DuckDB
    * re-evaluates each stage three ways).
    */
  def q341(spark: SparkSession, dir: String): DataFrame = {
    var e = Derived.coOrderPairCounts(spark, dir)
      .filter(col("n_pairs") >= 2).select(col("a"), col("b"))
      .localCheckpoint()
    def nodes(d: DataFrame): Long =
      d.select(col("a").as("n")).union(d.select(col("b").as("n")))
        .distinct().count()
    var nE = e.count()
    var nN = nodes(e)
    val prof = scala.collection.mutable.ArrayBuffer((0L, nE, nN))
    var stable = false
    for (r <- 1 to 8) {
      if (!stable) {
        val next = e.join(edgeSupport(e), Seq("a", "b"), "left")
          .filter(coalesce(col("support"), lit(0L)) >= 2L)
          .select(col("a"), col("b"))
          .localCheckpoint()
        val nNext = next.count()
        if (nNext == nE) stable = true
        else { e = next; nE = nNext; nN = nodes(e) }
      }
      prof += ((r.toLong, nE, nN))
    }
    import spark.implicits._
    prof.toSeq.zipWithIndex.map { case ((r, ed, nd), i) =>
      val phase =
        if (r == 0L) "init"
        else if (ed == prof(i - 1)._2) "stable"
        else "peeling"
      (4L, r, ed, nd, phase)
    }.toDF("k", "round", "n_edges_alive", "n_nodes_alive", "phase")
      .orderBy(asc("round"))
  }

  val q341Oracle: String = {
    val rounds = 1 to 8
    val stages = rounds.map { r =>
      val p = s"e${r - 1}"
      s"""u$r AS MATERIALIZED (
         |  SELECT a, b FROM $p UNION ALL SELECT b, a FROM $p),
         |sup$r AS MATERIALIZED (
         |  SELECT e1.a, e1.b, COUNT(*) AS sup
         |  FROM $p e1
         |  JOIN u$r u1 ON u1.a = e1.a
         |  JOIN u$r u2 ON u2.a = e1.b AND u2.b = u1.b
         |  GROUP BY 1, 2),
         |e$r AS MATERIALIZED (
         |  SELECT s.a, s.b FROM sup$r s WHERE s.sup >= 2)""".stripMargin
    }.mkString(",\n")
    val profRows = (0 to 8).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e$r) AS n_edges_alive,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
         |    (SELECT a AS n FROM e$r UNION SELECT b FROM e$r))
         |    AS n_nodes_alive""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH op AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |capped AS (
       |  SELECT ok, pk FROM (
       |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
       |    FROM op) WHERE rn <= 1000),
       |e0 AS MATERIALIZED (
       |  SELECT o1.pk AS a, o2.pk AS b
       |  FROM capped o1 JOIN capped o2 ON o1.ok = o2.ok AND o1.pk < o2.pk
       |  GROUP BY 1, 2
       |  HAVING COUNT(*) >= 2),
       |$stages,
       |prof AS (
       |  $profRows)
       |SELECT CAST(4 AS BIGINT) AS k, round, n_edges_alive, n_nodes_alive,
       |  CASE WHEN round = 0 THEN 'init'
       |    WHEN n_edges_alive = LAG(n_edges_alive) OVER (ORDER BY round)
       |      THEN 'stable'
       |    ELSE 'peeling' END AS phase
       |FROM prof
       |ORDER BY round""".stripMargin
  }

  /** Q342 — Newman modularity of the Q156 LPA-3 community partition
    * (Newman & Girvan 2004): Q = Σ_c (e_c/m − (d_c/2m)²) over the
    * pruned co-order graph, reported per community (top-10 by size)
    * with each community's internal-edge count, degree mass, and
    * contribution, plus the GLOBAL Q on every row. Scores the
    * partition Q156 only enumerates — the standard "is this community
    * structure real" read (Q > 0 means denser-than-chance insides;
    * Q ≈ 0 means the labels are noise), and the quantity a Louvain
    * refinement would climb.
    *
    * Determinism: the LPA rounds are the deterministic min-tiebreak
    * variant (Q156's — both engines replay identical label sequences);
    * e_c, d_c, m are exact counts; the contribution numerator
    * 4m·e_c − d_c² is carried in DECIMAL(38,0)/HUGEINT (d_c² passes
    * int64 once Σdeg ~ 3·10⁹ — reachable for a hub community at
    * 10¹⁰ edges); per-row and global Q are single divides by the
    * shared double (4·m)·m, rounded 6. Communities with zero internal
    * edges surface via the left join (coalesce 0), not silently.
    *
    * Scale notes: the LPA assignment is read from the bucketed
    * [[Derived.lpaLabels]] artifact (built once per dataset drop,
    * shared with Q156); the modularity algebra runs on the COMMUNITY
    * relation (≤ |nodes| rows, collapsed map-side); e_c is one
    * co-keyed double label join of the edge list against the
    * node-bucketed labels. No quadratic anywhere.
    */
  def q342(spark: SparkSession, dir: String): DataFrame = {
    val edges = Derived.coOrderPairCounts(spark, dir)
      .filter(col("n_pairs") >= 2).select(col("a"), col("b"))
      .localCheckpoint()
    // shared bucketed artifact (see q156) — one LPA per dataset drop
    val labels = Derived.lpaLabels(spark, dir)
    val deg = edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val comm = labels.join(deg, Seq("node"))
      .groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("n_members"),
        sum(col("deg")).cast("long").as("d_sum"))
    val ein = edges
      .join(labels.select(col("node").as("a"), col("label").as("la")),
        Seq("a"))
      .join(labels.select(col("node").as("b"), col("label").as("lb")),
        Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).cast("long").as("e_in"))
    val me = edges.agg(count(lit(1)).cast("long").as("m_edges"))
    val full = comm.join(ein, Seq("label"), "left")
      .select(col("label"), col("n_members"), col("d_sum"),
        coalesce(col("e_in"), lit(0L)).as("e_in"))
      .crossJoin(broadcast(me))
      .withColumn("cnum", expr(
        "CAST(4 AS DECIMAL(38,0)) * m_edges * e_in - " +
          "CAST(d_sum AS DECIMAL(38,0)) * d_sum"))
      .localCheckpoint()
    val tot = full.agg(sum(col("cnum")).cast("decimal(38,0)").as("qnum"),
      count(lit(1)).cast("long").as("n_comms"))
    full.crossJoin(broadcast(tot))
      .select(col("label").as("community"), col("n_members"),
        col("d_sum"), col("e_in"),
        expr("ROUND(CAST(cnum AS DOUBLE) / " +
          "(CAST(4 AS DOUBLE) * m_edges * m_edges), 6)").as("contrib"),
        expr("ROUND(CAST(qnum AS DOUBLE) / " +
          "(CAST(4 AS DOUBLE) * m_edges * m_edges), 6)").as("modularity"),
        col("n_comms"), col("m_edges"))
      .orderBy(desc("n_members"), asc_nulls_first("community"))
      .limit(10)
  }

  val q342Oracle: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |capped AS (
      |  SELECT ok, pk FROM (
      |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
      |    FROM op) WHERE rn <= 1000),
      |e AS MATERIALIZED (
      |  SELECT a, b FROM (
      |    SELECT c1.pk AS a, c2.pk AS b, COUNT(*) AS c
      |    FROM capped c1 JOIN capped c2 ON c1.ok = c2.ok AND c1.pk < c2.pk
      |    GROUP BY 1, 2)
      |  WHERE c >= 2),
      |de AS MATERIALIZED (SELECT a AS node, b AS dst FROM e
      |                    UNION ALL SELECT b AS node, a AS dst FROM e),
      |l0 AS (SELECT DISTINCT node, node AS label FROM de),
      |v1 AS (SELECT de.node, l0.label, COUNT(*) AS cnt
      |       FROM de JOIN l0 ON l0.node = de.dst GROUP BY 1, 2),
      |l1 AS (SELECT node, label FROM (
      |  SELECT node, label, ROW_NUMBER() OVER (
      |    PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM v1)
      |  WHERE rn = 1),
      |v2 AS (SELECT de.node, l1.label, COUNT(*) AS cnt
      |       FROM de JOIN l1 ON l1.node = de.dst GROUP BY 1, 2),
      |l2 AS (SELECT node, label FROM (
      |  SELECT node, label, ROW_NUMBER() OVER (
      |    PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM v2)
      |  WHERE rn = 1),
      |v3 AS (SELECT de.node, l2.label, COUNT(*) AS cnt
      |       FROM de JOIN l2 ON l2.node = de.dst GROUP BY 1, 2),
      |l3 AS MATERIALIZED (SELECT node, label FROM (
      |  SELECT node, label, ROW_NUMBER() OVER (
      |    PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM v3)
      |  WHERE rn = 1),
      |deg AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM de GROUP BY 1),
      |comm AS (
      |  SELECT l.label, CAST(COUNT(*) AS BIGINT) AS n_members,
      |    CAST(SUM(d.deg) AS BIGINT) AS d_sum
      |  FROM l3 l JOIN deg d ON d.node = l.node GROUP BY 1),
      |ein AS (
      |  SELECT la.label, CAST(COUNT(*) AS BIGINT) AS e_in
      |  FROM e
      |  JOIN l3 la ON la.node = e.a
      |  JOIN l3 lb ON lb.node = e.b AND lb.label = la.label
      |  GROUP BY 1),
      |me AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM e),
      |full_c AS (
      |  SELECT c.label, c.n_members, c.d_sum,
      |    COALESCE(i.e_in, 0) AS e_in, m.m_edges,
      |    CAST(4 AS HUGEINT) * m.m_edges * COALESCE(i.e_in, 0)
      |      - CAST(c.d_sum AS HUGEINT) * c.d_sum AS cnum
      |  FROM comm c LEFT JOIN ein i ON i.label = c.label
      |  CROSS JOIN me m),
      |tot AS (
      |  SELECT SUM(cnum) AS qnum, CAST(COUNT(*) AS BIGINT) AS n_comms
      |  FROM full_c)
      |SELECT f.label AS community, f.n_members, f.d_sum, f.e_in,
      |  ROUND(CAST(f.cnum AS DOUBLE)
      |    / (CAST(4 AS DOUBLE) * f.m_edges * f.m_edges), 6) AS contrib,
      |  ROUND(CAST(t.qnum AS DOUBLE)
      |    / (CAST(4 AS DOUBLE) * f.m_edges * f.m_edges), 6) AS modularity,
      |  t.n_comms, f.m_edges
      |FROM full_c f CROSS JOIN tot t
      |ORDER BY f.n_members DESC, f.label NULLS FIRST
      |LIMIT 10""".stripMargin

  /** Q344 — power-law degree-exponent MLE of the co-order graph
    * (Clauset, Shalizi & Newman, SIAM Review 2009, eq. 3.7 — the
    * discrete Hill estimator): α̂ = 1 + n·[Σ_{d ≥ dmin} ln(d/(dmin−½))]⁻¹
    * over the UNPRUNED co-order degree distribution with the declared
    * tail cutoff dmin = 2, plus tail mass and the max degree, and a
    * 'scale-free-ish' / 'not-power-law' verdict on the rounded
    * 2 ≤ α̂ ≤ 3.5 fence. The parametric completion of Q151's log2
    * degree histogram (shape read → fitted exponent): whether hubs
    * follow the heavy tail every sampling/partitioning decision on
    * this graph must plan for.
    *
    * Determinism: degrees are exact counts; the estimator collapses to
    * the bounded DEGREE HISTOGRAM first (distinct degree values, a few
    * hundred cells at any corpus size — the Q211 bounded-cells float
    * discipline), so Σ cnt_d·ln(d/1.5) is a sum over bounded cells
    * with ln-of-exact-ratios terms (the Q142 rule), rounded once at
    * α̂; n, tail counts, max degree exact int64.
    *
    * Scale notes: one groupBy of the artifact edge list for degrees,
    * one groupBy of degrees for the histogram (both map-side
    * combinable), then arithmetic on the bounded histogram. Flat in
    * corpus size past the degree aggregate.
    */
  def q344(spark: SparkSession, dir: String): DataFrame = {
    val edges = Derived.coOrderPairCounts(spark, dir)
      .select(col("a"), col("b"))
    val deg = edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val hist = deg.groupBy(col("d"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    hist.agg(
        sum(col("cnt")).cast("long").as("n_nodes"),
        sum(when(col("d") >= 2, col("cnt")).otherwise(0L)).cast("long")
          .as("n_tail"),
        sum(when(col("d") >= 2,
          col("cnt").cast("double") * log(col("d").cast("double") / 1.5))
          .otherwise(0.0)).as("lnsum"),
        max(col("d")).cast("long").as("max_degree"))
      .select(col("n_nodes"), col("n_tail"), col("max_degree"),
        expr("CASE WHEN lnsum > 0 THEN " +
          "ROUND(1.0 + CAST(n_tail AS DOUBLE) / lnsum, 6) END")
          .as("alpha"),
        expr("ROUND(CAST(n_tail AS DOUBLE) / n_nodes, 6)")
          .as("tail_share"))
      .withColumn("verdict", expr(
        "CASE WHEN alpha IS NULL THEN 'degenerate' " +
          "WHEN alpha >= 2.0 AND alpha <= 3.5 THEN 'scale-free-ish' " +
          "ELSE 'not-power-law' END"))
  }

  val q344Oracle: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |capped AS (
      |  SELECT ok, pk FROM (
      |    SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
      |    FROM op) WHERE rn <= 1000),
      |e AS (
      |  SELECT c1.pk AS a, c2.pk AS b
      |  FROM capped c1 JOIN capped c2 ON c1.ok = c2.ok AND c1.pk < c2.pk
      |  GROUP BY 1, 2),
      |deg AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
      |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      |  GROUP BY 1),
      |hist AS (
      |  SELECT d, CAST(COUNT(*) AS BIGINT) AS cnt FROM deg GROUP BY 1),
      |s AS (
      |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_nodes,
      |    CAST(SUM(CASE WHEN d >= 2 THEN cnt ELSE 0 END) AS BIGINT)
      |      AS n_tail,
      |    SUM(CASE WHEN d >= 2 THEN
      |      CAST(cnt AS DOUBLE) * ln(CAST(d AS DOUBLE) / 1.5)
      |      ELSE 0.0 END) AS lnsum,
      |    CAST(MAX(d) AS BIGINT) AS max_degree
      |  FROM hist)
      |SELECT n_nodes, n_tail, max_degree,
      |  CASE WHEN lnsum > 0 THEN
      |    ROUND(1.0 + CAST(n_tail AS DOUBLE) / lnsum, 6) END AS alpha,
      |  ROUND(CAST(n_tail AS DOUBLE) / n_nodes, 6) AS tail_share,
      |  CASE WHEN (CASE WHEN lnsum > 0 THEN
      |      ROUND(1.0 + CAST(n_tail AS DOUBLE) / lnsum, 6) END) IS NULL
      |    THEN 'degenerate'
      |    WHEN (CASE WHEN lnsum > 0 THEN
      |      ROUND(1.0 + CAST(n_tail AS DOUBLE) / lnsum, 6) END) >= 2.0
      |     AND (CASE WHEN lnsum > 0 THEN
      |      ROUND(1.0 + CAST(n_tail AS DOUBLE) / lnsum, 6) END) <= 3.5
      |    THEN 'scale-free-ish'
      |    ELSE 'not-power-law' END AS verdict
      |FROM s""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "Q334" -> (q334 _),
    "Q341" -> (q341 _), "Q342" -> (q342 _), "Q344" -> (q344 _),
    "Q337" -> (q337 _),
    "Q317" -> (q317 _),
    "Q222" -> (q222 _),
    "Q265" -> (q265 _), "Q307" -> (q307 _),
    "Q103" -> (q103 _), "Q106" -> (q106 _), "Q107" -> (q107 _),
    "Q121" -> (q121 _), "Q122" -> (q122 _), "Q131" -> (q131 _),
    "Q135" -> (q135 _), "Q145" -> (q145 _), "Q147" -> (q147 _),
    "Q156" -> (q156 _), "Q162" -> (q162 _), "Q168" -> (q168 _),
    "Q197" -> (q197 _), "Q278" -> (q278 _))

  def oracles: Map[String, String] = Map(
    "Q334" -> q334Oracle,
    "Q341" -> q341Oracle, "Q342" -> q342Oracle, "Q344" -> q344Oracle,
    "Q337" -> q337Oracle,
    "Q317" -> q317Oracle,
    "Q103" -> q103Oracle, "Q106" -> q106Oracle, "Q107" -> q107Oracle,
    "Q121" -> q121Oracle, "Q122" -> q122Oracle, "Q131" -> q131Oracle,
    "Q135" -> q135Oracle, "Q145" -> q145Oracle, "Q147" -> q147Oracle,
    "Q156" -> q156Oracle, "Q162" -> q162Oracle, "Q168" -> q168Oracle,
    "Q197" -> q197Oracle, "Q222" -> q222Oracle, "Q265" -> q265Oracle,
    "Q278" -> q278Oracle, "Q307" -> q307Oracle)
}
