package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Catalog

/** Near-duplicate detection family for LLM training-data pipelines
  * (builder-prompt north star): SimHash signatures (Q48), word n-gram
  * shingle Jaccard (Q49), MinHash signatures (Q51), and MinHash-LSH
  * candidate banding — the 100 TB path in front of the exact verifier.
  *
  * Hash discipline: every hash is derived from md5(), which both Spark and
  * DuckDB expose with identical output, so signatures are cross-engine
  * hash-checkable — no engine-private hash function appears in any
  * declared query.
  *
  * Scale notes: signatures are one explode + one groupBy per doc (linear);
  * LSH banding turns all-pairs discovery into an equi-join on
  * (band, band-signature) buckets — only docs sharing a bucket pair up.
  * Band count / rows-per-band trade recall vs candidates exactly as in the
  * standard S-curve P(candidate) = 1-(1-J^rows)^bands.
  */
object NearDup {

  private val HexDigits = "0123456789abcdef"

  /** Q48 — 32-bit SimHash per document over its distinct token set. */
  def q48(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.documents
      .filter(col("doc_id") <= 100)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("token"))
      .withColumn("h", md5(col("token")))
      .withColumn("b", explode(sequence(lit(0), lit(31))))
      .withColumn("d", expr(s"instr('$HexDigits', substring(h, b DIV 4 + 1, 1)) - 1"))
      .withColumn("w", expr("2 * (shiftright(d, b % 4) % 2) - 1"))
      .groupBy(col("doc_id"), col("b"))
      .agg(sum(col("w")).as("s"))
      .withColumn("term",
        expr("CASE WHEN s >= 0 THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END"))
      .groupBy(col("doc_id"))
      .agg(sum(col("term")).as("simhash"))
      .orderBy(asc_nulls_first("doc_id"))
  }

  val q48Oracle: String =
    s"""WITH tok AS (
      |  SELECT DISTINCT doc_id, token FROM (
      |    SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
      |    FROM documents WHERE doc_id <= 100)),
      |bits AS (
      |  SELECT doc_id, md5(token) AS h, UNNEST(range(32)) AS b FROM tok),
      |votes AS (
      |  SELECT doc_id, b,
      |    SUM(2 * (((instr('$HexDigits', substr(h, CAST(b // 4 AS INTEGER) + 1, 1)) - 1)
      |      >> CAST(b % 4 AS INTEGER)) % 2) - 1) AS s
      |  FROM bits GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
      |                ELSE 0 END) AS BIGINT) AS simhash
      |FROM votes
      |GROUP BY doc_id
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** The distinct (doc_id, 3-gram shingle) relation. */
  private[graft] def shingles(c: Catalog): DataFrame =
    TextOps.fanOut(c.documents)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        """transform(sequence(0, size(toks) - 3),
          |  i -> concat(element_at(toks, i + 1), ' ',
          |              element_at(toks, i + 2), ' ',
          |              element_at(toks, i + 3)))""".stripMargin))).as("token"))

  /** Q49 — word-trigram shingle Jaccard ≥ 0.6 pairs: order-sensitive
    * near-dedup (token-set Jaccard is blind to reordering; shingles are
    * not).
    */
  def q49(spark: SparkSession, dir: String): DataFrame =
    // Consumes the shared pair artifact (Derived.nearDupPairs — the
    // PPJoin discovery pass runs once per dataset, timed as the bench's
    // neardup_build leg); identical relation, identical hashes.
    Derived.nearDupPairs(spark, dir)
      .orderBy(asc_nulls_first("doc_lo"), asc_nulls_first("doc_hi"))

  val q49Oracle: String =
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, sh AS token FROM (
      |    SELECT doc_id, UNNEST(list_transform(
      |      range(len(string_split(text, ' ')) - 2),
      |      i -> string_split(text, ' ')[i + 1] || ' ' ||
      |           string_split(text, ' ')[i + 2] || ' ' ||
      |           string_split(text, ' ')[i + 3])) AS sh
      |    FROM documents WHERE len(string_split(text, ' ')) >= 3)),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
      |pairs AS (
      |  SELECT t1.doc_id AS d1, t2.doc_id AS d2, COUNT(*) AS inter
      |  FROM tok t1 JOIN tok t2 ON t1.token = t2.token AND t1.doc_id < t2.doc_id
      |  GROUP BY 1, 2)
      |SELECT d1 AS doc_lo, d2 AS doc_hi,
      |  ROUND(CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter), 4) AS jaccard
      |FROM pairs
      |JOIN sz s1 ON s1.doc_id = d1
      |JOIN sz s2 ON s2.doc_id = d2
      |WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.6
      |ORDER BY doc_lo NULLS FIRST, doc_hi NULLS FIRST""".stripMargin

  /** md5-derived 32-bit hash value for permutation `p` of a token column —
    * the shared Spark/DuckDB SQL expression (dialect-common subset).
    * Shared with PipelineOps (deterministic hash sampling).
    */
  private[graft] def hexValueExpr(hCol: String): String =
    (1 to 8).map { d =>
      val scale = math.pow(16, 8 - d).toLong
      s"(instr('$HexDigits', substring($hCol, $d, 1)) - 1) * CAST($scale AS BIGINT)"
    }.mkString(" + ")

  /** Spark-side fast twin of [[hexValueExpr]]: the IDENTICAL value from
    * one codegen'd call ([[graft.plans.Hex32]]) instead of the 8-term
    * instr/substring chain — r14, the interpreted-expression-in-hot-path
    * class (every md5-derandomized draw pays the chain per row). Oracle
    * SQL keeps the portable chain; Hex32Spec pins fast == portable on
    * md5 outputs and every edge case (short/non-hex/uppercase/NULL).
    */
  private[graft] def hexValueFastExpr(hCol: String): String =
    s"graft_hex32($hCol)"

  /** MinHash signatures: k md5-seeded permutations, min over the doc's
    * distinct tokens. API form over any (doc_id, token) relation.
    */
  def minHashSignatures(tok: DataFrame, k: Int): DataFrame = {
    // Callers reach this without constructing Catalog (the Derived
    // near-dup build's LSH fallback) — register graft_hex32 idempotently.
    graft.plans.GraftExtensions.registerRuntime(tok.sparkSession)
    tok
      .withColumn("p", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("h", md5(concat(col("p").cast("string"), lit(":"), col("token"))))
      .withColumn("hv", expr(hexValueFastExpr("h")))
      .groupBy(col("doc_id"), col("p"))
      .agg(min(col("hv")).as("minhash"))
  }

  /** Q51 — MinHash signatures (k=8) for the probe documents. */
  def q51(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val tok = c.documents
      .filter(col("doc_id") <= 100)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("token"))
    minHashSignatures(tok, 8)
      .orderBy(asc_nulls_first("doc_id"), asc_nulls_first("p"))
  }

  val q51Oracle: String =
    s"""WITH tok AS (
      |  SELECT DISTINCT doc_id, token FROM (
      |    SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
      |    FROM documents WHERE doc_id <= 100)),
      |hashed AS (
      |  SELECT doc_id, p, md5(CAST(p AS VARCHAR) || ':' || token) AS h
      |  FROM (SELECT doc_id, token, UNNEST(range(8)) AS p FROM tok)),
      |valued AS (
      |  SELECT doc_id, p, ${hexValueExpr("h")} AS hv FROM hashed)
      |SELECT doc_id, p, MIN(hv) AS minhash
      |FROM valued
      |GROUP BY doc_id, p
      |ORDER BY doc_id NULLS FIRST, p NULLS FIRST""".stripMargin

  /** MinHash-LSH candidate pairs: band the k-row signature into
    * `bands` bands of k/bands rows; docs sharing any band signature pair
    * up. This is the 100 TB discovery path whose recall against the exact
    * Jaccard verifier is property-checked in NearDupSpec.
    */
  def lshCandidates(signatures: DataFrame, bands: Int): DataFrame = {
    val banded = signatures
      .withColumn("band", col("p") % bands)
      .groupBy(col("doc_id"), col("band"))
      .agg(concat_ws(",", sort_array(collect_list(
        concat(col("p").cast("string"), lit("="), col("minhash").cast("string")))))
        .as("band_sig"))
    val b1 = banded.select(col("doc_id").as("d1"), col("band"), col("band_sig"))
    val b2 = banded.select(col("doc_id").as("d2"), col("band"), col("band_sig"))
    b1.join(b2, Seq("band", "band_sig"))
      .filter(col("d1") < col("d2"))
      .select(col("d1").as("doc_lo"), col("d2").as("doc_hi"))
      .distinct()
  }

  /** Hot-bucket fence for the LSH similarity-join fallback
    * (TextOps.jaccardLsh): a (band, signature) bucket holding more than
    * this many docs contributes cap²/2 candidate pairs from a single
    * non-discriminative signature value — at that size the signature
    * carries no information (every doc in it is near-identical to
    * thousands of others) and the full pair list is quadratic BY
    * DEFINITION of the requested output, so the bucket is deterministically
    * truncated to its BandBucketCap smallest doc_ids (the Q218 BlockCap /
    * MaxBasket discipline). The kept docs still pair with each other, so
    * connected-components consumers still collapse the cluster core.
    * Measured max bucket: 9 at sf0.1 and 9 at sf10 (k = 8 signatures) — a
    * no-op everywhere measured; it exists to bound the adversarial case.
    */
  private[operators] val BandBucketCap = 2000

  /** [[lshCandidates]] with the hot-bucket fence, (d1, d2) output — the
    * candidate stage of the artifact-build fallback path. The per-bucket
    * rank is a window over (band, band_sig); a hot bucket sorts in one
    * task, but sorting is n·log n where pairing it would be n² — the
    * whole point of the fence.
    */
  private[operators] def lshCandidatesCapped(
      signatures: DataFrame, bands: Int, bucketCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val banded = signatures
      .withColumn("band", col("p") % bands)
      .groupBy(col("doc_id"), col("band"))
      .agg(concat_ws(",", sort_array(collect_list(
        concat(col("p").cast("string"), lit("="), col("minhash").cast("string")))))
        .as("band_sig"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("band"), col("band_sig"))
          .orderBy(asc("doc_id"))))
      .filter(col("r") <= bucketCap)
      .select(col("doc_id"), col("band"), col("band_sig"))
    val b1 = banded.select(col("doc_id").as("d1"), col("band"), col("band_sig"))
    val b2 = banded.select(col("doc_id").as("d2"), col("band"), col("band_sig"))
    b1.join(b2, Seq("band", "band_sig"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
      .distinct()
  }

  /** Q61 — winnowing fingerprints (Schleimer, Wilkerson, Aiken,
    * SIGMOD'03 — the MOSS algorithm): hash each word-trigram k-gram,
    * slide a window of 4 consecutive k-gram hashes over the document, and
    * keep the minimum of each window. The distinct selected minima are the
    * document's fingerprints: any shared substring of ≥ k+w-1 tokens
    * between two documents is GUARANTEED to share a fingerprint, unlike
    * plain MinHash which only matches in expectation. Emits per-doc
    * fingerprint-set statistics for the probe window.
    *
    * Scale: per-row k-gram hashing + one (doc)-partitioned window + one
    * groupBy — linear, one shuffle on doc_id, no cross-document work.
    */
  def q61(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.documents
      .filter(col("doc_id") <= 20)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, size(toks) - 3),
          |  i -> concat(element_at(toks, i + 1), ' ',
          |              element_at(toks, i + 2), ' ',
          |              element_at(toks, i + 3)))""".stripMargin)).as(Seq("pos", "sh")))
      .withColumn("h", md5(col("sh")))
      .withColumn("hv", expr(hexValueFastExpr("h")))
      .withColumn("fp", min(col("hv")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(asc("pos"))
          .rowsBetween(-3, 0)))
      .filter(col("pos") >= 3)
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("fp")).as("n_fp"),
        min(col("fp")).as("min_fp"),
        max(col("fp")).as("max_fp"),
        sum_distinct(col("fp")).as("sum_fp"))
      .orderBy(asc_nulls_first("doc_id"))
  }

  val q61Oracle: String =
    s"""WITH grams AS (
      |  SELECT doc_id, i AS pos,
      |    md5(string_split(text, ' ')[i + 1] || ' ' ||
      |        string_split(text, ' ')[i + 2] || ' ' ||
      |        string_split(text, ' ')[i + 3]) AS h
      |  FROM (SELECT doc_id, text, UNNEST(range(len(string_split(text, ' ')) - 2)) AS i
      |        FROM documents WHERE doc_id <= 20 AND len(string_split(text, ' ')) >= 3)),
      |valued AS (SELECT doc_id, pos, ${hexValueExpr("h")} AS hv FROM grams),
      |winnowed AS (
      |  SELECT doc_id, pos,
      |    MIN(hv) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
      |  FROM valued)
      |SELECT doc_id,
      |  COUNT(DISTINCT fp) AS n_fp,
      |  MIN(fp) AS min_fp,
      |  MAX(fp) AS max_fp,
      |  CAST(SUM(DISTINCT fp) AS BIGINT) AS sum_fp
      |FROM winnowed
      |WHERE pos >= 3
      |GROUP BY doc_id
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** Incremental corpus dedup: which NEW documents are near-duplicates of
    * the EXISTING corpus (or of each other)? The production shape of
    * dedup — the corpus is huge and already signed, the increment is
    * small — so the discovery join must be asymmetric: band signatures of
    * the increment join the (pre-materialized at 100 TB) corpus signature
    * table; only same-bucket cross pairs are exact-verified. Returns
    * (new_doc_id, dup_of_doc_id, jaccard) for verified pairs ≥ threshold.
    *
    * tokens relations: distinct (doc_id, token); doc_ids must be disjoint
    * across the two inputs.
    */
  def incrementalDedup(
      newTokens: DataFrame,
      corpusTokens: DataFrame,
      threshold: Double,
      k: Int = 8,
      bands: Int = 4): DataFrame = {
    val newSigs = minHashSignatures(newTokens, k)
    val corpusSigs = minHashSignatures(corpusTokens, k)
    def banded(sigs: DataFrame, idCol: String) = sigs
      .withColumn("band", col("p") % bands)
      .groupBy(col("doc_id").as(idCol), col("band"))
      .agg(concat_ws(",", sort_array(collect_list(
        concat(col("p").cast("string"), lit("="), col("minhash").cast("string")))))
        .as("band_sig"))
    val cands = banded(newSigs, "new_id")
      .join(banded(corpusSigs, "corpus_id"), Seq("band", "band_sig"))
      .select(col("new_id"), col("corpus_id")).distinct()
    // Exact verification of candidates only: intersect full token sets.
    val newArr = newTokens.groupBy(col("doc_id").as("new_id"))
      .agg(collect_list(col("token")).as("tk1"), count(lit(1)).as("sz1"))
    val corpArr = corpusTokens.groupBy(col("doc_id").as("corpus_id"))
      .agg(collect_list(col("token")).as("tk2"), count(lit(1)).as("sz2"))
    val j = col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter"))
    cands
      .join(newArr, Seq("new_id"))
      .join(corpArr, Seq("corpus_id"))
      .withColumn("inter", size(array_intersect(col("tk1"), col("tk2"))).cast("long"))
      .filter(j >= threshold)
      .select(col("new_id").as("new_doc_id"), col("corpus_id").as("dup_of_doc_id"),
        round(j, 4).as("jaccard"))
  }

  /** Connected components by iterative min-label propagation: every node
    * starts labeled with itself; each round every node takes the min of
    * its own and its neighbors' labels; fixpoint = every node carries its
    * component's minimum id. The fixpoint is unique, so the result is
    * deterministic regardless of execution order — hash-checkable.
    *
    * Scale: each round is one equi-join + one groupBy (shuffles keyed by
    * node id), converging in O(component diameter) rounds — near-dup
    * clusters are shallow (chains of transitively-similar docs), so a
    * handful of rounds. For adversarially long chains the same loop
    * accepts the large-star/small-star edge rewriting (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) which
    * converges in O(log n) rounds; the per-round plan is unchanged.
    * localCheckpoint truncates the per-round lineage exactly as the
    * CP-ALS loop does.
    */
  def connectedComponents(edges: DataFrame): DataFrame =
    connectedComponentsMinLabel(edges)._1

  /** Min-label propagation with its round count exposed — the observable
    * NearDupSpec compares against [[connectedComponentsStars]]'s rounds
    * (the O(log n) path must not take more rounds than O(diameter)).
    */
  private[graft] def connectedComponentsMinLabel(edges: DataFrame): (DataFrame, Int) = {
    // Materialize the edge list ONCE before symmetrizing: the union's two
    // branches would otherwise each recompute the (expensive) upstream
    // pair-discovery plan — exchange reuse is not guaranteed across the
    // union's differing projections.
    val e = edges.toDF("src", "dst").localCheckpoint()
    val sym = e
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      val nbrMin = sym
        .join(labels, sym("src") === labels("node"))
        .groupBy(col("dst")).agg(min(col("label")).as("nbr_label"))
      val updated = labels
        .join(nbrMin, col("node") === col("dst"), "left")
        .select(col("node"), col("label"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("next"))
        .localCheckpoint()
      changed = updated.filter(col("next") < col("label")).count()
      labels = updated.select(col("node"), col("next").as("label"))
      rounds += 1
    }
    (labels.select(col("label").as("rep"), col("node").as("member")), rounds)
  }

  /** Q94 — blocked fuzzy string matching (approximate join): for each
    * probe part (p_partkey < 100), every catalog part whose name is
    * within levenshtein distance 2, under a same-first-4-chars blocking
    * key; emit per probe the match count and the closest partner
    * (tiebreak: smaller distance, then smaller partkey).
    *
    * Scale: the blocking key turns an O(n²) all-pairs edit-distance scan
    * into an equi-join on the prefix — the candidate set is only
    * same-bucket pairs (the standard entity-resolution "blocking"
    * discipline; at 100 TB one unions several complementary blocking
    * keys — length band, phonetic key, rare-token — each an equi-join).
    * The Spark side uses the thresholded levenshtein (early-exit banded
    * DP, Spark 3.5+) so non-matches cost O(threshold·len) not O(len²).
    */
  def q94(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Catalog(spark, dir)
    val parts = c.part.select(col("p_partkey"), col("p_name"),
      substring(col("p_name"), 1, 4).as("blk"))
    val probes = parts.filter(col("p_partkey") < 100)
      .select(col("p_partkey").as("probe"), col("p_name").as("probe_name"),
        col("blk"))
    val cands = probes.join(parts, Seq("blk"))
      .filter(col("p_partkey") =!= col("probe"))
      .withColumn("dist", levenshtein(col("probe_name"), col("p_name"), 2))
      .filter(col("dist") >= 0)
    val w = Window.partitionBy(col("probe"))
    cands
      .withColumn("n_matches", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(
        w.orderBy(asc("dist"), asc("p_partkey"))))
      .filter(col("rn") === 1)
      .select(col("probe"), col("n_matches"),
        col("dist").cast("long").as("best_dist"),
        col("p_partkey").as("best_partner"))
      .orderBy(asc_nulls_first("probe"))
  }

  val q94Oracle: String =
    """SELECT probe, n_matches, CAST(dist AS BIGINT) AS best_dist,
      |  p_partkey AS best_partner
      |FROM (
      |  SELECT a.p_partkey AS probe, b.p_partkey,
      |    levenshtein(a.p_name, b.p_name) AS dist,
      |    COUNT(*) OVER (PARTITION BY a.p_partkey) AS n_matches,
      |    ROW_NUMBER() OVER (PARTITION BY a.p_partkey
      |      ORDER BY levenshtein(a.p_name, b.p_name), b.p_partkey) AS rn
      |  FROM part a JOIN part b
      |    ON substr(a.p_name, 1, 4) = substr(b.p_name, 1, 4)
      |   AND a.p_partkey <> b.p_partkey
      |  WHERE a.p_partkey < 100
      |    AND levenshtein(a.p_name, b.p_name) <= 2) t
      |WHERE rn = 1
      |ORDER BY probe NULLS FIRST""".stripMargin

  /** Connected components by alternating large-star/small-star edge
    * rewriting (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the O(log n)-round path for adversarially deep
    * components, where min-label propagation's O(diameter) rounds would
    * dominate. Same fixpoint as [[connectedComponents]] (every node
    * labeled with its component minimum; property-checked equivalent in
    * NearDupSpec), different per-round contraction:
    *
    *  - large-star: every node's strictly-larger neighbors re-attach to
    *    the minimum of its closed neighborhood — long chains halve.
    *  - small-star: every node and its smaller neighbors re-attach to
    *    that minimum — stars flatten.
    *
    * Each phase is one groupBy + one join on node id (the same shuffle
    * class as a min-label round, no per-node neighbor list is ever
    * collected), and the edge set provably contracts to the star forest
    * (member → component-min) in O(log n) alternations. Convergence is
    * detected by an order-insensitive edge-set signature (count + key
    * sums + summed xxhash64) — one tiny aggregate per round.
    *
    * Returns (labels as (rep, member) for every node incl. rep→rep,
    * rounds taken) — the round count is the observable the O(log n)
    * claim is tested on.
    */
  def connectedComponentsStars(edges: DataFrame): (DataFrame, Int) = {
    val e0 = edges.toDF("src", "dst").filter(col("src") =!= col("dst"))
      .localCheckpoint()
    val nodes = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct().localCheckpoint()
    // Order-insensitive, overflow-free under ANSI: decimal(38) key sums
    // plus an XOR fold of per-edge hashes (edges are distinct, so XOR
    // cannot cancel duplicates).
    def signature(df: DataFrame): Seq[Any] =
      df.agg(count(lit(1)),
        sum(col("src").cast("decimal(38,0)")),
        sum(col("dst").cast("decimal(38,0)")),
        expr("bit_xor(xxhash64(src, dst))")).collect()(0).toSeq
    var e = e0
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct().localCheckpoint()
    var sig = signature(e)
    // Size-adaptive parallelism: the verified dup-pair graph is usually a
    // tiny fraction of the corpus, and every round below is 2 phases × a
    // handful of stages whose TASK-LAUNCH overhead dominates when a
    // 32-partition layout carries a few hundred edges. Re-lay the loop
    // state out at ~1M edges/partition (capped at default parallelism):
    // same plans, same fixpoint, task counts proportional to data.
    val edgeCount = sig.head match { case n: Long => n; case n => n.toString.toLong }
    val parts = math.max(1L, math.min(
      e.sparkSession.sparkContext.defaultParallelism.toLong,
      edgeCount / (1L << 20) + 1)).toInt
    if (parts < e.rdd.getNumPartitions)
      e = e.repartition(parts).localCheckpoint()
    var rounds = 0
    var done = e.isEmpty
    while (!done) {
      // large-star: emit (v, min(closed nbrs of u)) for v ∈ Γ(u), v > u.
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mL = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      // No distinct here: duplicate (v, m) rows are harmless to the
      // small-star min and are collapsed by its distinct — skipping the
      // intermediate exchange saves a shuffle stage per round.
      val ls = sym.join(mL, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
      // small-star: edges are now oriented big→small; re-attach each node
      // and all its smaller neighbors to the neighborhood minimum.
      val mS = ls.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val ss = ls.join(mS, "src")
        .select(explode(array(
          struct(col("dst").as("a"), col("m").as("b")),
          struct(col("src").as("a"), col("m").as("b")))).as("p"))
        .select(col("p.a").as("src"), col("p.b").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
        .localCheckpoint()
      val s2 = signature(ss)
      done = s2 == sig
      sig = s2
      e = ss
      rounds += 1
    }
    // e is the star forest oriented (member, rep); singleton components
    // cannot arise here (every input node has an edge), reps label
    // themselves via the left join fallthrough.
    val labels = nodes.join(e, nodes("node") === e("src"), "left")
      .select(coalesce(col("dst"), col("node")).as("rep"),
        col("node").as("member"))
    (labels, rounds)
  }

  /** Edge budget for the driver-local CC fast path: 4M two-long edge
    * rows ≈ 64 MB raw (~a few hundred MB transient boxed) — the same
    * bounded-collect class as the ANN codebook fit and the ALS factor
    * rows. The verified dup-pair / core-core graphs this front-end
    * serves are SPARSE side outputs (surviving near-dup pairs), orders
    * of magnitude below their corpora; past the budget the distributed
    * star contraction runs unchanged.
    */
  private[operators] val DriverCcEdgeBudget = 4L * 1000 * 1000

  /** Adaptive CC front-end (r13): the star-contraction loop costs
    * 2 jobs × O(log n) ROUNDS of driver-synchronized fixpoint checks —
    * at fixture scale that is ~40 near-empty jobs whose launch overhead
    * dominates the leg (Q117 measured 103 jobs / 6 s with ~3 s of
    * driver-side gaps). When one exact count probe shows the edge
    * relation inside [[DriverCcEdgeBudget]], collect it and run
    * union-find on the driver (one job instead of the loop); the label
    * relation (component-min rep per member, reps self-labeled) is
    * IDENTICAL to the distributed fixpoint — the min-id rep is a pure
    * function of the component partition, which both algorithms compute
    * exactly. NearDupSpec pins label equality on the fixture graphs.
    */
  def connectedComponentsAdaptive(
      edges: DataFrame,
      budget: Long = DriverCcEdgeBudget): DataFrame = {
    val e0 = edges.toDF("src", "dst").filter(col("src") =!= col("dst"))
      .select(col("src").cast("long"), col("dst").cast("long"))
      .localCheckpoint()
    if (e0.count() > budget) return connectedComponentsStars(e0)._1
    // Collect PRIMITIVES, not Rows (ADVICE r13): at the 4M-edge budget
    // boundary an Array[Row] of boxed longs costs hundreds of MB of
    // transient driver heap; specialized (Long, Long) tuples decode
    // straight from the internal rows.
    val arr: Array[(Long, Long)] = {
      val sp = edges.sparkSession
      import sp.implicits._
      e0.as[(Long, Long)].collect()
    }
    val idx = new scala.collection.mutable.LongMap[Int](arr.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    val parent = new scala.collection.mutable.ArrayBuffer[Int]()
    def nodeIdx(v: Long): Int =
      idx.getOrElseUpdate(v, { ids += v; parent += parent.length; ids.length - 1 })
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    arr.foreach { case (a, b) =>
      val ra = find(nodeIdx(a))
      val rb = find(nodeIdx(b))
      if (ra != rb) parent(ra) = rb
    }
    val minOfRoot = new scala.collection.mutable.HashMap[Int, Long]()
    (0 until ids.length).foreach { i =>
      val r = find(i)
      if (ids(i) < minOfRoot.getOrElse(r, Long.MaxValue)) minOfRoot(r) = ids(i)
    }
    val rows = (0 until ids.length).map(i => (minOfRoot(find(i)), ids(i)))
    val spark = edges.sparkSession
    import spark.implicits._
    rows.toDF("rep", "member")
  }

  /** Q67 — near-dup cluster collapse: connected components over the
    * verified shingle-Jaccard ≥ 0.6 pairs (Q49's output), emitting
    * (cluster representative = min doc_id, member). The final stage of
    * the dedup pipeline: signatures → candidates → exact verify →
    * CLUSTER → keep one representative per cluster.
    *
    * Runs on the O(log n)-round star-contraction CC (the 100 TB-safe
    * default; min-label propagation remains as the property-checked
    * twin whose O(diameter) rounds are fine for shallow clusters but
    * not adversarial chains). Same fixpoint, identical hashes.
    */
  def q67(spark: SparkSession, dir: String): DataFrame =
    // Consumes the shared cluster artifact (Derived.nearDupClusters —
    // built once per dataset by the Q67 pipeline, timed as the bench's
    // neardup_build leg); identical relation, identical hashes.
    Derived.nearDupClusters(spark, dir)
      .orderBy(asc_nulls_first("rep"), asc_nulls_first("member"))

  val q67Oracle: String =
    """WITH RECURSIVE tok AS (
      |  SELECT DISTINCT doc_id, sh AS token FROM (
      |    SELECT doc_id, UNNEST(list_transform(
      |      range(len(string_split(text, ' ')) - 2),
      |      i -> string_split(text, ' ')[i + 1] || ' ' ||
      |           string_split(text, ' ')[i + 2] || ' ' ||
      |           string_split(text, ' ')[i + 3])) AS sh
      |    FROM documents WHERE len(string_split(text, ' ')) >= 3)),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
      |inter AS (
      |  SELECT t1.doc_id AS d1, t2.doc_id AS d2, COUNT(*) AS inter
      |  FROM tok t1 JOIN tok t2 ON t1.token = t2.token AND t1.doc_id < t2.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT d1, d2 FROM inter
      |  JOIN sz s1 ON s1.doc_id = d1
      |  JOIN sz s2 ON s2.doc_id = d2
      |  WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.6),
      |edges AS (
      |  SELECT d1 AS src, d2 AS dst FROM pairs
      |  UNION SELECT d2, d1 FROM pairs),
      |reach(node, r) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node)
      |SELECT MIN(r) AS rep, node AS member
      |FROM reach
      |GROUP BY node
      |ORDER BY rep NULLS FIRST, member NULLS FIRST""".stripMargin

  /** Q68 — the dedup pipeline's closing act: per language, how many
    * documents remain once every near-dup cluster (Q67) keeps only its
    * representative. Non-representative members anti-join out of the
    * corpus; the per-lang totals make the retention rate auditable.
    */
  def q68(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val dropped = Derived.nearDupClusters(spark, dir)
      .filter(col("member") =!= col("rep"))
      .select(col("member").as("doc_id"))
    // No broadcast hint: the dropped set is DATA-dependent (a heavily
    // duplicated corpus could drop half its docs) — let AQE pick the
    // strategy from the actual size instead of pinning a driver-sized
    // assumption.
    c.documents
      .join(dropped.withColumn("is_dropped", lit(1)), Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("is_dropped").isNull, 1)).as("n_kept"))
      .orderBy(asc_nulls_first("lang"))
  }

  val q68Oracle: String =
    """WITH RECURSIVE tok AS (
      |  SELECT DISTINCT doc_id, sh AS token FROM (
      |    SELECT doc_id, UNNEST(list_transform(
      |      range(len(string_split(text, ' ')) - 2),
      |      i -> string_split(text, ' ')[i + 1] || ' ' ||
      |           string_split(text, ' ')[i + 2] || ' ' ||
      |           string_split(text, ' ')[i + 3])) AS sh
      |    FROM documents WHERE len(string_split(text, ' ')) >= 3)),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
      |inter AS (
      |  SELECT t1.doc_id AS d1, t2.doc_id AS d2, COUNT(*) AS inter
      |  FROM tok t1 JOIN tok t2 ON t1.token = t2.token AND t1.doc_id < t2.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT d1, d2 FROM inter
      |  JOIN sz s1 ON s1.doc_id = d1
      |  JOIN sz s2 ON s2.doc_id = d2
      |  WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.6),
      |edges AS (
      |  SELECT d1 AS src, d2 AS dst FROM pairs
      |  UNION SELECT d2, d1 FROM pairs),
      |reach(node, r) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node),
      |dropped AS (
      |  SELECT node AS doc_id FROM reach GROUP BY node HAVING MIN(r) <> node)
      |SELECT d.lang, COUNT(*) AS n_docs,
      |  COUNT(*) FILTER (WHERE dr.doc_id IS NULL) AS n_kept
      |FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
      |GROUP BY d.lang
      |ORDER BY lang NULLS FIRST""".stripMargin

  /** Q84 — Rabin–Karp rolling-hash fingerprints: every 16-char substring
    * hash of each probe document via the codegen'd O(n)
    * `graft_rolling_hash` expression; per-doc summary stats keep the
    * output bounded. The DuckDB twin recomputes each window hash DIRECTLY
    * (O(n·k) polynomial sum with the same base/modulus), so the hash
    * match proves the rolling update exact — not just plausible.
    */
  def q84(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.documents
      .filter(col("doc_id") <= 20)
      .filter(length(col("text")) >= 16)
      .select(col("doc_id"),
        explode(call_function("graft_rolling_hash", col("text"), lit(16))).as("h"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_hashes"),
        countDistinct(col("h")).as("n_distinct"),
        min(col("h")).as("min_h"),
        max(col("h")).as("max_h"),
        sum(col("h")).as("sum_h"))
      .orderBy(asc_nulls_first("doc_id"))
  }

  val q84Oracle: String = {
    // B^(15-j) mod 2^32 for j = 0..15, precomputed so the oracle stays
    // pure integer SQL (DuckDB power() is floating).
    val B = 1000003L; val M = 0xFFFFFFFFL
    val pows = Iterator.iterate(1L)(p => (p * B) & M).take(16).toSeq.reverse
    s"""WITH d AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id <= 20 AND len(text) >= 16),
      |pos AS (
      |  SELECT doc_id, text, UNNEST(range(len(text) - 15)) AS i FROM d),
      |hashed AS (
      |  SELECT doc_id,
      |    CAST(list_sum(list_transform(range(16), j ->
      |      unicode(substring(text, CAST(i + j + 1 AS INTEGER), 1)) *
      |        ([${pows.mkString(", ")}])[CAST(j + 1 AS INTEGER)]))
      |      AS BIGINT) & 4294967295 AS h
      |  FROM pos)
      |SELECT doc_id, COUNT(*) AS n_hashes, COUNT(DISTINCT h) AS n_distinct,
      |  MIN(h) AS min_h, MAX(h) AS max_h, CAST(SUM(h) AS BIGINT) AS sum_h
      |FROM hashed
      |GROUP BY doc_id
      |ORDER BY doc_id NULLS FIRST""".stripMargin
  }

  /** Q85 — content-defined chunking (CDC) statistics: a chunk boundary
    * falls wherever the 16-char rolling hash ≡ 0 mod 64 (expected chunk
    * ~64 chars, boundaries decided by CONTENT, not offsets — insertions
    * shift chunk edges only locally, which is why CDC dedup survives
    * edits that defeat fixed-size blocking). Emits per-doc window,
    * boundary, and expected-chunk-size stats.
    */
  def q85(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.documents
      .filter(col("doc_id") <= 50)
      .filter(length(col("text")) >= 16)
      .select(col("doc_id"), col("n_chars"),
        explode(call_function("graft_rolling_hash", col("text"), lit(16))).as("h"))
      .groupBy(col("doc_id"), col("n_chars"))
      .agg(
        count(lit(1)).as("n_windows"),
        count(when(col("h") % 64 === 0, 1)).as("n_boundaries"))
      .select(col("doc_id"), col("n_windows"), col("n_boundaries"),
        round(col("n_chars").cast("double") / (col("n_boundaries") + 1), 4)
          .as("avg_chunk_len"))
      .orderBy(asc_nulls_first("doc_id"))
  }

  val q85Oracle: String = {
    val B = 1000003L; val M = 0xFFFFFFFFL
    val pows = Iterator.iterate(1L)(p => (p * B) & M).take(16).toSeq.reverse
    s"""WITH d AS (
      |  SELECT doc_id, n_chars, text FROM documents
      |  WHERE doc_id <= 50 AND len(text) >= 16),
      |pos AS (
      |  SELECT doc_id, n_chars, text, UNNEST(range(len(text) - 15)) AS i FROM d),
      |hashed AS (
      |  SELECT doc_id, n_chars,
      |    CAST(list_sum(list_transform(range(16), j ->
      |      unicode(substring(text, CAST(i + j + 1 AS INTEGER), 1)) *
      |        ([${pows.mkString(", ")}])[CAST(j + 1 AS INTEGER)]))
      |      AS BIGINT) & 4294967295 AS h
      |  FROM pos)
      |SELECT doc_id, COUNT(*) AS n_windows,
      |  COUNT(*) FILTER (WHERE h % 64 = 0) AS n_boundaries,
      |  ROUND(CAST(n_chars AS DOUBLE) /
      |        (COUNT(*) FILTER (WHERE h % 64 = 0) + 1), 4) AS avg_chunk_len
      |FROM hashed
      |GROUP BY doc_id, n_chars
      |ORDER BY doc_id NULLS FIRST""".stripMargin
  }

  /** Q126 — edit-distance fuzzy matching, the record-linkage member of
    * the near-dup family (token-set Jaccard = Q49, byte-hash = SimHash;
    * this is CHARACTER-level noise: typos, OCR errors, truncations).
    * Within each p_brand block, every part-name pair at Levenshtein
    * distance ≤ 2 is found and the matches are profiled per
    * (brand, distance): pair count + how many distinct left-side parts
    * participate. Distance 0 pairs are exact name duplicates under
    * different part keys — the classic entity-resolution signal.
    *
    * Scale notes: a FIXED blocking key (25 brands) makes the blocked
    * self-join quadratic in table size — Σ block² DP evaluations grew
    * this gate 0.46→6.6s over one measured decade (exp +1.16, the
    * scaling ladder's catch). The plan is therefore FastSS (Bocek,
    * Hunt & Stiller 2007): each name explodes into its ≤2-deletion
    * neighborhood signatures via the codegen'd O(1)-per-variant
    * [[graft.plans.DeletionHashes]] expression, candidates come from an
    * equi-join on (brand, signature) — LINEAR rows in table size, never
    * all pairs — and only deduped candidates pay the banded THRESHOLD
    * DP `levenshtein(l, r, 2)` (O(k·len)/pair, −1 sentinel ≡ the
    * oracle's plain `d <= 2`). Signature completeness (any pair at
    * ed ≤ 2 shares a variant) plus verify-on-candidate makes the
    * rewrite exact: the golden hash is unchanged from the blocked
    * all-pairs form, which the oracle still runs.
    *
    * r13 (SCALE.md finding 3): the signature relation is PRICED before
    * it is materialized — past [[FastssDirectBudget]] it is served from
    * the sig-bucketed [[Derived.fastssSignatures]] artifact and the
    * candidate self-join runs bucket-co-located (streaming sort-merge
    * over disk-sorted runs, memory bounded by the hottest single
    * signature); past [[FastssK2Budget]] the neighborhood depth drops
    * to k = 1 with the documented d = 2 recall trade.
    */
  def q126(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val p = c.part.select(col("p_brand"), col("p_partkey"), col("p_name"))
      .localCheckpoint()
    // Admissibility probe (one long to the driver, the TextOps
    // discipline): the distinct ≤2-deletion neighborhood of a length-L
    // name is at most 1 + L + L(L−1)/2 variants, so the summed bound
    // prices the signature relation BEFORE materializing it. Fixture
    // tiers stay far under the direct budget (20k names ≈ 10⁷ rows),
    // so fixture plans and golden hashes are untouched.
    val sigMass = Option(p.agg(sum(expr(
        "1L + CAST(length(p_name) AS BIGINT) + " +
          "CAST(length(p_name) AS BIGINT) * " +
          "(CAST(length(p_name) AS BIGINT) - 1L) DIV 2")))
      .first().get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val cands =
      if (sigMass <= FastssDirectBudget) {
        // Deliberately NOT checkpointed (r12 sf10 sweep): pinning the
        // signature relation starved execution memory at 48 GB.
        // Unpinned, the self-join's two sides share one shuffle via
        // ReusedExchange and the codegen'd variant expansion re-runs at
        // scan speed.
        val sigs = p.select(col("p_brand"), col("p_partkey"),
            explode(array_distinct(expr("graft_deletion_hashes(p_name, 2)")))
              .as("sig"))
        sigs
          .join(sigs.select(col("p_brand").as("bb"), col("p_partkey").as("kb"),
              col("sig").as("sb")),
            col("bb") === col("p_brand") && col("sb") === col("sig") &&
              col("kb") > col("p_partkey"))
          .select(col("p_partkey"), col("kb"))
          .distinct()
      } else {
        // Past the direct budget (r13, SCALE.md finding 3): serve the
        // signature relation from the BUCKETED Derived artifact and
        // self-join it bucket-co-located on its SINGLE brand-folded
        // key — no exchange, no re-sort (the layout IS the join
        // order), no hash build: a streaming merge over sig-sorted
        // disk runs. One more decade up the probe drops the
        // neighborhood depth to k = 1 (~L variants/name): d ≤ 1
        // recall stays complete, d = 2 keeps only the pairs sharing a
        // 1-deletion variant — the documented recall trade.
        val k = if (sigMass <= FastssK2Budget) 2 else 1
        val art = Derived.fastssSignatures(k)(spark, dir)
        art.as("sa")
          .join(art.as("sb"),
            col("sb.sig") === col("sa.sig") &&
              col("sb.p_partkey") > col("sa.p_partkey"))
          .select(col("sa.p_partkey").as("p_partkey"),
            col("sb.p_partkey").as("kb"))
          .distinct()
      }
    cands
      .join(p.select(col("p_partkey"), col("p_name"), col("p_brand")),
        Seq("p_partkey"))
      .join(p.select(col("p_partkey").as("kb"), col("p_name").as("nb")),
        Seq("kb"))
      .select(col("p_brand"), col("p_partkey"),
        levenshtein(col("p_name"), col("nb"), 2).as("d"))
      .filter(col("d") >= 0)
      .groupBy(col("p_brand"), col("d"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("p_partkey")).as("n_lo_parts"))
      .orderBy(asc_nulls_first("p_brand"), asc("d"))
  }

  /** Signature rows the in-memory FastSS self-join may materialize
    * before Q126 switches to the bucketed Derived artifact: 2·10⁸ rows
    * (~5 GB of exploded relation, re-derived on both join sides at scan
    * speed) is comfortable executor work; the r12 sweep measured the
    * 10⁹-row form OOMing a 48 GB heap.
    */
  private[operators] val FastssDirectBudget = 200L * 1000 * 1000

  /** Signature rows the k = 2 ARTIFACT may hold before the neighborhood
    * depth drops to k = 1 (≈ L variants/name instead of L²/2 — a ~L/2×
    * mass cut). 2·10¹⁰ rows ≈ the disk-sorted merge a 1000-executor
    * cluster absorbs per the 1.5 GB/core rule; past it the d = 2 recall
    * trade is the lesser evil.
    */
  private[operators] val FastssK2Budget = 20L * 1000 * 1000 * 1000

  val q126Oracle: String =
    """SELECT a.p_brand, levenshtein(a.p_name, b.p_name) AS d,
      |  COUNT(*) AS n_pairs,
      |  COUNT(DISTINCT a.p_partkey) AS n_lo_parts
      |FROM part a JOIN part b
      |ON b.p_brand = a.p_brand AND b.p_partkey > a.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) <= 2
      |GROUP BY 1, 2
      |ORDER BY 1 NULLS FIRST, 2""".stripMargin

  /** Q160 — the MinHash-LSH dedup pipeline END-TO-END, hash-gated:
    * shingle → MinHash(k=8) → band(b=4) → bucket-join candidates → exact
    * Jaccard verify ≥ 0.6. Q51 gates the signatures and NearDupSpec
    * property-checks banding recall; this gate pins the WHOLE discovery→
    * verify composition (the production dedup shape at 100 TB — the exact
    * verifier only ever touches candidate pairs, never all pairs) against
    * a DuckDB replay of the identical pipeline. Every hash is md5-derived
    * (file-level discipline), so both engines compute the same buckets,
    * the same candidates, and the same verified pairs.
    *
    * Scale notes: signatures are linear (one explode + one groupBy);
    * banding is an equi-join on (band, band_sig) — only same-bucket docs
    * pair up; verification joins candidates to the token relation keyed
    * on (doc, token), so its cost is Σ_cand |tokens(lo)| — candidate-
    * bounded, never corpus-quadratic. The exact-Jaccard filter makes LSH
    * false positives harmless (dropped), while false negatives are the
    * tunable S-curve miss rate the recall spec measures.
    */
  def q160(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val tok = shingles(c).cache()
    val cand = lshCandidates(minHashSignatures(tok, 8), 4)
    val sz = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(tok.select(col("doc_id").as("doc_lo"), col("token")), Seq("doc_lo"))
      .join(tok.select(col("doc_id").as("doc_hi"), col("token")),
        Seq("doc_hi", "token"))
      .groupBy(col("doc_lo"), col("doc_hi"))
      .agg(count(lit(1)).as("inter"))
    val j = col("inter").cast("double") /
      (col("sz1") + col("sz2") - col("inter"))
    inter
      .join(sz.select(col("doc_id").as("doc_lo"), col("sz").as("sz1")),
        Seq("doc_lo"))
      .join(sz.select(col("doc_id").as("doc_hi"), col("sz").as("sz2")),
        Seq("doc_hi"))
      .filter(j >= 0.6)
      .select(col("doc_lo"), col("doc_hi"), round(j, 4).as("jaccard"))
      .orderBy(asc_nulls_first("doc_lo"), asc_nulls_first("doc_hi"))
  }

  val q160Oracle: String =
    s"""WITH tok AS (
      |  SELECT DISTINCT doc_id, sh AS token FROM (
      |    SELECT doc_id, UNNEST(list_transform(
      |      range(len(string_split(text, ' ')) - 2),
      |      i -> string_split(text, ' ')[i + 1] || ' ' ||
      |           string_split(text, ' ')[i + 2] || ' ' ||
      |           string_split(text, ' ')[i + 3])) AS sh
      |    FROM documents WHERE len(string_split(text, ' ')) >= 3)),
      |hashed AS (
      |  SELECT doc_id, p, md5(CAST(p AS VARCHAR) || ':' || token) AS h
      |  FROM (SELECT doc_id, token, UNNEST(range(8)) AS p FROM tok)),
      |sigs AS (
      |  SELECT doc_id, p, MIN(${hexValueExpr("h")}) AS minhash
      |  FROM hashed GROUP BY doc_id, p),
      |banded AS (
      |  SELECT doc_id, p % 4 AS band,
      |    string_agg(CAST(p AS VARCHAR) || '=' || CAST(minhash AS VARCHAR),
      |               ',' ORDER BY CAST(p AS VARCHAR)) AS band_sig
      |  FROM sigs GROUP BY doc_id, band),
      |cand AS (
      |  SELECT DISTINCT b1.doc_id AS d1, b2.doc_id AS d2
      |  FROM banded b1 JOIN banded b2
      |    ON b1.band = b2.band AND b1.band_sig = b2.band_sig
      |   AND b1.doc_id < b2.doc_id),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
      |verified AS (
      |  SELECT c.d1, c.d2, COUNT(*) AS inter
      |  FROM cand c
      |  JOIN tok t1 ON t1.doc_id = c.d1
      |  JOIN tok t2 ON t2.doc_id = c.d2 AND t2.token = t1.token
      |  GROUP BY c.d1, c.d2)
      |SELECT v.d1 AS doc_lo, v.d2 AS doc_hi,
      |  ROUND(CAST(v.inter AS DOUBLE) / (s1.sz + s2.sz - v.inter), 4)
      |    AS jaccard
      |FROM verified v
      |JOIN sz s1 ON s1.doc_id = v.d1
      |JOIN sz s2 ON s2.doc_id = v.d2
      |WHERE CAST(v.inter AS DOUBLE) / (s1.sz + s2.sz - v.inter) >= 0.6
      |ORDER BY doc_lo NULLS FIRST, doc_hi NULLS FIRST""".stripMargin

  /** Q166 — cross-source duplication flow matrix: verified near-dup pairs
    * (Q49's exact shingle-Jaccard ≥ 0.6) rolled up to (source, source)
    * cells with pair counts and mean similarity. The corpus-governance
    * view of dedup — "which sources copy which" — that decides source
    * weights and crawl exclusions in a training-data pipeline.
    *
    * Scale notes: the expensive part IS Q49's adaptive exact-Jaccard
    * engine (candidate-bounded, df=1-pruned); this adds two broadcast-able
    * joins against the (doc_id, source) projection and a
    * sources²-bounded rollup.
    */
  def q166(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val src = c.documents.select(col("doc_id"), col("source"))
    Derived.nearDupPairs(spark, dir)
      .join(src.select(col("doc_id").as("doc_lo"), col("source").as("src_a")),
        Seq("doc_lo"))
      .join(src.select(col("doc_id").as("doc_hi"), col("source").as("src_b")),
        Seq("doc_hi"))
      .select(least(col("src_a"), col("src_b")).as("src_lo"),
        greatest(col("src_a"), col("src_b")).as("src_hi"), col("jaccard"))
      .groupBy(col("src_lo"), col("src_hi"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("jaccard")), 4).as("avg_jaccard"))
      .orderBy(asc_nulls_first("src_lo"), asc_nulls_first("src_hi"))
  }

  val q166Oracle: String =
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, sh AS token FROM (
      |    SELECT doc_id, UNNEST(list_transform(
      |      range(len(string_split(text, ' ')) - 2),
      |      i -> string_split(text, ' ')[i + 1] || ' ' ||
      |           string_split(text, ' ')[i + 2] || ' ' ||
      |           string_split(text, ' ')[i + 3])) AS sh
      |    FROM documents WHERE len(string_split(text, ' ')) >= 3)),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
      |pairs AS (
      |  SELECT t1.doc_id AS d1, t2.doc_id AS d2, COUNT(*) AS inter
      |  FROM tok t1 JOIN tok t2
      |    ON t1.token = t2.token AND t1.doc_id < t2.doc_id
      |  GROUP BY 1, 2),
      |verified AS (
      |  SELECT d1, d2,
      |    ROUND(CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter), 4) AS j
      |  FROM pairs
      |  JOIN sz s1 ON s1.doc_id = d1
      |  JOIN sz s2 ON s2.doc_id = d2
      |  WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.6),
      |srcd AS (
      |  SELECT LEAST(da.source, db.source) AS src_lo,
      |         GREATEST(da.source, db.source) AS src_hi, v.j
      |  FROM verified v
      |  JOIN documents da ON da.doc_id = v.d1
      |  JOIN documents db ON db.doc_id = v.d2)
      |SELECT src_lo, src_hi, COUNT(*) AS n_pairs,
      |  ROUND(AVG(j), 4) AS avg_jaccard
      |FROM srcd GROUP BY 1, 2
      |ORDER BY src_lo NULLS FIRST, src_hi NULLS FIRST""".stripMargin

  /** Q172 — 13-gram cross-document duplication rate per source (the
    * substring-dedup diagnostic of Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", at the audit
    * granularity): the share of a source's 13-gram instances that also
    * occur in some OTHER document (or twice in-document), plus how many
    * of its docs carry any duplicated gram. Q80 catches exact shared
    * chunks and Q49/Q160 catch whole-document near-dups; this measures
    * the PARTIAL-overlap mass those miss — boilerplate headers, quoted
    * passages, template fragments.
    *
    * Hash discipline: grams are md5'd (file rule) so the df relation
    * joins on a fixed-width key in both engines. Scale notes: gram
    * explode is row-local and linear; df is one (gram)-keyed map-side-
    * combined aggregate; the flag join is gram-keyed. Nothing pairwise.
    */
  def q172(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    // cache(): the gram relation (the expensive md5 explode) feeds BOTH
    // the df aggregate and the flag join; uncached, Spark re-ran the
    // explode on each side (r13 — the TextOps.jaccardFromTokens
    // discipline; Verify/Bench clearCache() per query).
    val grams = c.documents
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 13)
      .select(col("doc_id"), col("source"), explode(expr(
        """transform(sequence(0, size(toks) - 13),
          |  i -> md5(concat_ws(' ', slice(toks, i + 1, 13))))""".stripMargin))
        .as("g"))
      .cache()
    val df = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("df"))
    grams.join(df, Seq("g"))
      .select(col("source"), col("doc_id"),
        when(col("df") > 1, 1L).otherwise(0L).as("dup"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("dup")).as("n_dup_grams"),
        round(sum(col("dup")).cast("double") / count(lit(1)), 4)
          .as("dup_frac"),
        countDistinct(when(col("dup") === 1, col("doc_id")))
          .as("n_docs_with_dup"))
      .orderBy(asc_nulls_first("source"))
  }

  val q172Oracle: String =
    """WITH grams AS (
      |  SELECT doc_id, source,
      |    md5(list_aggregate(list_slice(toks, i + 1, i + 13),
      |        'string_agg', ' ')) AS g
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks,
      |          UNNEST(range(len(string_split(text, ' ')) - 12)) AS i
      |        FROM documents
      |        WHERE len(string_split(text, ' ')) >= 13)),
      |df AS (
      |  SELECT g, COUNT(DISTINCT doc_id) AS df FROM grams GROUP BY 1),
      |flagged AS (
      |  SELECT gr.source, gr.doc_id,
      |    CASE WHEN df.df > 1 THEN 1 ELSE 0 END AS dup
      |  FROM grams gr JOIN df ON df.g = gr.g)
      |SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS n_grams,
      |  CAST(SUM(dup) AS BIGINT) AS n_dup_grams,
      |  ROUND(CAST(SUM(dup) AS DOUBLE) / COUNT(*), 4) AS dup_frac,
      |  CAST(COUNT(DISTINCT CASE WHEN dup = 1 THEN doc_id END) AS BIGINT)
      |    AS n_docs_with_dup
      |FROM flagged
      |GROUP BY source ORDER BY source NULLS FIRST""".stripMargin

  /** Q187 — near-dup cluster SIZE distribution: how many clusters exist
    * at each size (singletons included), with the document mass each
    * size class holds. Q67 emits memberships and Q68 the post-collapse
    * retention; this is the summary curve a dedup report leads with —
    * "mostly pairs" and "one 10k-document blob" demand different
    * responses (the blob is usually boilerplate, not true duplication).
    *
    * Exactness: all counts are exact int64 (CC reps from the gated star
    * contraction, singletons = total − members); doc_share is ONE
    * divide, round(6).
    *
    * Scale notes: inherits Q67's candidate-bounded pair discovery and
    * O(log n) star-contraction; everything after is two tiny groupBys
    * (clusters, then ≤max-size histogram rows) plus single-row
    * broadcast joins for the totals.
    */
  def q187(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val cc = Derived.nearDupClusters(spark, dir)
    val clus = cc.groupBy(col("rep")).agg(count(lit(1)).as("cl_size"))
      .groupBy(col("cl_size")).agg(count(lit(1)).as("n_clusters"))
    val tot = c.documents.agg(count(lit(1)).as("n_total"))
    val members = cc.agg(count(lit(1)).as("n_members"))
    val singletons = tot.crossJoin(members) // two single-row aggregates
      .select(lit(1L).as("cl_size"),
        (col("n_total") - col("n_members")).as("n_clusters"))
    clus.unionByName(singletons)
      .groupBy(col("cl_size"))
      .agg(sum(col("n_clusters")).as("n_clusters"))
      .crossJoin(tot) // single-row total for the share
      .select(col("cl_size"), col("n_clusters"),
        (col("cl_size") * col("n_clusters")).as("n_docs"),
        when(col("n_total") > 0L,
          round((col("cl_size") * col("n_clusters")).cast("double") /
            col("n_total").cast("double"), 6)).as("doc_share"))
      .orderBy(asc("cl_size"))
  }

  val q187Oracle: String =
    """WITH RECURSIVE tok AS (
      |  SELECT DISTINCT doc_id, sh AS token FROM (
      |    SELECT doc_id, UNNEST(list_transform(
      |      range(len(string_split(text, ' ')) - 2),
      |      i -> string_split(text, ' ')[i + 1] || ' ' ||
      |           string_split(text, ' ')[i + 2] || ' ' ||
      |           string_split(text, ' ')[i + 3])) AS sh
      |    FROM documents WHERE len(string_split(text, ' ')) >= 3)),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
      |inter AS (
      |  SELECT t1.doc_id AS d1, t2.doc_id AS d2, COUNT(*) AS inter
      |  FROM tok t1 JOIN tok t2 ON t1.token = t2.token AND t1.doc_id < t2.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT d1, d2 FROM inter
      |  JOIN sz s1 ON s1.doc_id = d1
      |  JOIN sz s2 ON s2.doc_id = d2
      |  WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.6),
      |edges AS (
      |  SELECT d1 AS src, d2 AS dst FROM pairs
      |  UNION SELECT d2, d1 FROM pairs),
      |reach(node, r) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node),
      |comp AS (SELECT node, MIN(r) AS rep FROM reach GROUP BY node),
      |csize AS (SELECT rep, COUNT(*) AS cl_size FROM comp GROUP BY rep),
      |hist AS (
      |  SELECT cl_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
      |  FROM csize GROUP BY 1
      |  UNION ALL
      |  SELECT 1, (SELECT COUNT(*) FROM documents)
      |          - (SELECT COUNT(*) FROM comp)),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents)
      |SELECT cl_size, CAST(SUM(n_clusters) AS BIGINT) AS n_clusters,
      |  CAST(cl_size * SUM(n_clusters) AS BIGINT) AS n_docs,
      |  CASE WHEN MAX(t.n_total) > 0 THEN
      |    ROUND(CAST(cl_size * SUM(n_clusters) AS DOUBLE)
      |      / CAST(MAX(t.n_total) AS DOUBLE), 6) END AS doc_share
      |FROM hist CROSS JOIN tot t
      |GROUP BY cl_size ORDER BY cl_size""".stripMargin

  /** Q189 — CONTAINMENT near-dup pairs: word-trigram shingle overlap
    * coefficient |A∩B| / min(|A|,|B|) ≥ 0.8. The asymmetric sibling of
    * Q49's Jaccard: a short document quoted inside a long one scores
    * containment ≈ 1 but Jaccard ≈ |short|/|long| ≈ 0, so the
    * quote-inclusion/subset-duplication class is INVISIBLE to every
    * symmetric gate (Q35/Q49/Q160) by construction — this is the gate
    * curation pipelines use to catch excerpt spam and templated
    * wrappers.
    *
    * Exactness: the threshold is decided in exact integers
    * (5·inter ≥ 4·min ⇔ containment ≥ 0.8 — no float ever compared);
    * the emitted coefficient is one divide, round(4).
    *
    * Scale notes: same candidate-bounded discovery as Q49 (df ≥ 2
    * pruning drops every unshared shingle) MINUS the Jaccard length
    * filter, which is exactly what must go: it prunes asymmetric pairs.
    * A threshold-exact prune is impossible for containment (any shared
    * shingle can certify a short doc), so past the direct budget the
    * gate switches to the published containment-join compromise: a
    * DF-CAP — candidates must share at least one RARE (df ≤ cap)
    * shingle, then the TRUE containment of each candidate is verified
    * over ALL its shingles. Recall semantics, stated: a contained doc
    * shares every one of its shingles with its container, so any pair
    * whose short side has ≥ 1 sub-cap shingle is FOUND and scored
    * exactly; a pair whose every shared shingle is hotter than the cap
    * — pure boilerplate overlap — is MISSED here by design, because
    * that mass belongs to the Q80 shared-chunk detector (r12 measured
    * the uncapped form UNABLE_TO_ACQUIRE_MEMORY at 48 GB on the
    * 31-word sf10 corpus, where every shingle is common — SCALE.md
    * finding 4). The cap itself is DATA-DERIVED: one probe aggregation
    * prices Σ_{2≤df≤D} df² at a cap ladder and the largest admissible
    * cap wins — fixture tiers stay on the exact path (mass ≪ budget),
    * so golden hashes are untouched.
    */
  def q189(spark: SparkSession, dir: String): DataFrame = {
    // (r13 measured: caching this shingle relation LOSES — the explode
    // is cheaper to recompute than the cache round-trips it causes.)
    val tok = shingles(Catalog(spark, dir))
    val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val dfreq = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // One probe pass prices the exact join AND the cap ladder
    // (five longs to the driver, the TextOps discipline).
    val capLadder = Seq(1024L, 256L, 64L, 16L)
    val probeCols = sum(when(col("df") >= 2, col("df") * col("df"))
        .otherwise(0L)).as("full") +:
      capLadder.map(d => sum(when(col("df").between(2L, d),
        col("df") * col("df")).otherwise(0L)).as(s"m$d"))
    val probe = dfreq.agg(probeCols.head, probeCols.tail: _*).first()
    def pl(i: Int): Long =
      Option(probe.get(i)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val scored =
      if (pl(0) <= ContainmentDirectBudget) {
        val shareable = tok.join(
          dfreq.filter(col("df") >= 2).select(col("token")), Seq("token"), "leftsemi")
        val t1 = shareable.join(sizes, Seq("doc_id"))
          .select(col("doc_id").as("d1"), col("token").as("tk1"), col("sz").as("sz1"))
        val t2 = shareable.join(sizes, Seq("doc_id"))
          .select(col("doc_id").as("d2"), col("token").as("tk2"), col("sz").as("sz2"))
        t1.join(t2, col("tk1") === col("tk2") && col("d1") < col("d2"))
          .groupBy(col("d1"), col("d2"), col("sz1"), col("sz2"))
          .agg(count(lit(1)).as("inter"))
      } else {
        // Df-capped discovery (largest admissible cap from the probe;
        // the 16 floor is linear-in-corpus mass — distributed work,
        // never a single-bucket quadratic) + exact verify of the
        // surviving candidates over the FULL token relation.
        val cap = capLadder.zipWithIndex
          .find { case (_, i) => pl(i + 1) <= ContainmentDirectBudget }
          .map(_._1).getOrElse(capLadder.last)
        val rare = tok.join(
          dfreq.filter(col("df").between(2L, cap)).select(col("token")),
          Seq("token"), "leftsemi")
        val cand = rare.select(col("doc_id").as("d1"), col("token"))
          .join(rare.select(col("doc_id").as("d2"), col("token")), Seq("token"))
          .filter(col("d1") < col("d2"))
          .select(col("d1"), col("d2")).distinct()
        cand
          .join(tok.select(col("doc_id").as("d1"), col("token")), Seq("d1"))
          .join(tok.select(col("doc_id").as("d2"), col("token")),
            Seq("d2", "token"))
          .groupBy(col("d1"), col("d2"))
          .agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), Seq("d1"))
          .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), Seq("d2"))
      }
    scored
      .filter(col("inter") * 5L >= least(col("sz1"), col("sz2")) * 4L)
      .select(col("d1").as("doc_lo"), col("d2").as("doc_hi"),
        col("inter"), least(col("sz1"), col("sz2")).as("min_sz"),
        round(col("inter").cast("double") /
          least(col("sz1"), col("sz2")).cast("double"), 4).as("containment"))
      .orderBy(asc_nulls_first("doc_lo"), asc_nulls_first("doc_hi"))
  }

  /** Candidate rows Q189's exact containment join may produce before
    * discovery drops to the df-capped form — the same 2G-row order as
    * [[TextOps.PrefixJoinBudget]], the measured wall of the 48 GB
    * local envelope and ~seconds of distributed work at cluster scale.
    */
  private[operators] val ContainmentDirectBudget = 2L * 1000 * 1000 * 1000

  val q189Oracle: String =
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, sh AS token FROM (
      |    SELECT doc_id, UNNEST(list_transform(
      |      range(len(string_split(text, ' ')) - 2),
      |      i -> string_split(text, ' ')[i + 1] || ' ' ||
      |           string_split(text, ' ')[i + 2] || ' ' ||
      |           string_split(text, ' ')[i + 3])) AS sh
      |    FROM documents WHERE len(string_split(text, ' ')) >= 3)),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
      |pairs AS (
      |  SELECT t1.doc_id AS d1, t2.doc_id AS d2, COUNT(*) AS inter
      |  FROM tok t1 JOIN tok t2 ON t1.token = t2.token AND t1.doc_id < t2.doc_id
      |  GROUP BY 1, 2)
      |SELECT d1 AS doc_lo, d2 AS doc_hi, CAST(inter AS BIGINT) AS inter,
      |  CAST(LEAST(s1.sz, s2.sz) AS BIGINT) AS min_sz,
      |  ROUND(CAST(inter AS DOUBLE) / CAST(LEAST(s1.sz, s2.sz) AS DOUBLE), 4)
      |    AS containment
      |FROM pairs
      |JOIN sz s1 ON s1.doc_id = d1
      |JOIN sz s2 ON s2.doc_id = d2
      |WHERE inter * 5 >= LEAST(s1.sz, s2.sz) * 4
      |ORDER BY doc_lo NULLS FIRST, doc_hi NULLS FIRST""".stripMargin

  /** Q196 — quality-aware canonical selection per near-dup cluster: the
    * curation step AFTER discovery (Q49/Q160) and clustering (Q67). Q68
    * keeps each cluster's min-id representative — the arbitrary rule; real
    * pipelines keep the BEST member (here: longest by n_chars, doc_id
    * tiebreak) so dedup doesn't silently discard the fullest copy of a
    * page. Emits per source: docs, kept docs, kept share, exact char mass
    * before/after, char retention, and how many kept docs differ from the
    * min-id rule's pick (the quality-upgrade count — what Q68 would have
    * thrown away).
    *
    * Determinism: cluster membership reuses Q67's star-contraction CC
    * (min-rep labels are engine-independent); the canonical pick is a
    * row_number over the exact (n_chars DESC, doc_id) order; every other
    * measure is an int64 count/sum with single-divide shares (round 6).
    *
    * Scale notes: the argmax-per-cluster is one window over the member
    * relation (clusters are near-dup-bounded, tiny next to the corpus);
    * the dropped set joins back by doc_id with no broadcast hint — on a
    * heavily duplicated corpus it is corpus-sized, so AQE decides.
    */
  def q196(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val cc = Derived.nearDupClusters(spark, dir) // (rep, member)
    val docs = c.documents.select(col("doc_id"), col("source"), col("n_chars"))
    val members = cc.join(docs, cc("member") === docs("doc_id"))
      .select(col("rep"), col("member"), col("n_chars"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("rep")).orderBy(desc("n_chars"), asc("member"))
    val ranked = members.withColumn("rk", row_number().over(w))
    val dropped = ranked.filter(col("rk") > 1)
      .select(col("member").as("doc_id"), lit(1).as("is_dropped"))
    val upgraded = ranked.filter(col("rk") === 1)
      .filter(col("member") =!= col("rep"))
      .select(col("member").as("doc_id"), lit(1).as("is_upgrade"))
    docs
      .join(dropped, Seq("doc_id"), "left")
      .join(upgraded, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("is_dropped").isNull, 1)).as("n_kept"),
        round(count(when(col("is_dropped").isNull, 1)).cast("double") /
          count(lit(1)).cast("double"), 6).as("kept_share"),
        sum(col("n_chars")).as("chars_total"),
        sum(when(col("is_dropped").isNull, col("n_chars")).otherwise(0L))
          .as("chars_kept"),
        round(sum(when(col("is_dropped").isNull, col("n_chars")).otherwise(0L))
          .cast("double") / sum(col("n_chars")).cast("double"), 6)
          .as("char_retention"),
        sum(when(col("is_upgrade").isNotNull, 1L).otherwise(0L))
          .as("n_quality_upgrades"))
      .orderBy(asc_nulls_first("source"))
  }

  val q196Oracle: String =
    """WITH RECURSIVE tok AS (
      |  SELECT DISTINCT doc_id, sh AS token FROM (
      |    SELECT doc_id, UNNEST(list_transform(
      |      range(len(string_split(text, ' ')) - 2),
      |      i -> string_split(text, ' ')[i + 1] || ' ' ||
      |           string_split(text, ' ')[i + 2] || ' ' ||
      |           string_split(text, ' ')[i + 3])) AS sh
      |    FROM documents WHERE len(string_split(text, ' ')) >= 3)),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
      |inter AS (
      |  SELECT t1.doc_id AS d1, t2.doc_id AS d2, COUNT(*) AS inter
      |  FROM tok t1 JOIN tok t2 ON t1.token = t2.token AND t1.doc_id < t2.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT d1, d2 FROM inter
      |  JOIN sz s1 ON s1.doc_id = d1
      |  JOIN sz s2 ON s2.doc_id = d2
      |  WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.6),
      |edges AS (
      |  SELECT d1 AS src, d2 AS dst FROM pairs
      |  UNION SELECT d2, d1 FROM pairs),
      |reach(node, r) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node),
      |cc AS (SELECT MIN(r) AS rep, node AS member FROM reach GROUP BY node),
      |ranked AS (
      |  SELECT cc.rep, cc.member, d.n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY cc.rep
      |      ORDER BY d.n_chars DESC, cc.member) AS rk
      |  FROM cc JOIN documents d ON d.doc_id = cc.member),
      |dropped AS (SELECT member AS doc_id FROM ranked WHERE rk > 1),
      |upgraded AS (
      |  SELECT member AS doc_id FROM ranked WHERE rk = 1 AND member <> rep)
      |SELECT d.source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  ROUND(CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END)
      |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS kept_share,
      |  CAST(SUM(d.n_chars) AS BIGINT) AS chars_total,
      |  CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN d.n_chars ELSE 0 END)
      |    AS BIGINT) AS chars_kept,
      |  ROUND(CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN d.n_chars ELSE 0 END)
      |      AS DOUBLE) / CAST(SUM(d.n_chars) AS DOUBLE), 6) AS char_retention,
      |  CAST(SUM(CASE WHEN up.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_quality_upgrades
      |FROM documents d
      |LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
      |LEFT JOIN upgraded up ON up.doc_id = d.doc_id
      |GROUP BY d.source
      |ORDER BY source NULLS FIRST""".stripMargin

  /** Q218 — Jaro–Winkler fuzzy name matching over `part` names: the
    * record-linkage scorer (Winkler 1990) the edit-distance family
    * (Q94/Q126) lacks — prefix-weighted, transposition-tolerant. Pairs
    * are blocked on the 4-char name prefix (candidate generation never
    * goes all-pairs), scored by the native codegen'd
    * `graft_jaro_winkler` expression (`plans/JaroWinkler.scala` —
    * semantics verified char-for-char against DuckDB's
    * `jaro_winkler_similarity`, including the floor-halved
    * transposition count and the jaro > 0.7 boost gate), kept at
    * ≥ 0.90 for distinct names, and reported as the top-50 most
    * similar DISTINCT name pairs (with their instance-pair counts) on
    * the fully tie-broken (sim round-4 desc, name_a, name_b) order.
    *
    * Re-declared round 10 (the r9 scale-killer fix): the old form
    * self-joined part INSTANCES on a 4-char-prefix block — but part
    * names draw from a tiny vocabulary (adjective × noun), so the
    * instance join was O(n²) in-block (the registry's only
    * super-linear leg) while scoring the same few distinct name pairs
    * thousands of times over. The fuzzy-match relation is a property
    * of the NAME VOCABULARY, not the instance table: collapse to
    * DISTINCT names with their instance counts first (one linear
    * hash aggregate), score JW once per distinct name pair on the
    * canonical name_a < name_b ordering, and report
    * n_pairs = cnt_a · cnt_b — the exact number of instance pairs the
    * old quadratic join would have scored, computed without scoring
    * them. The prefix-4 block still bounds the distinct-pair join.
    *
    * Scale notes: the corpus scan is the linear name-count aggregate;
    * everything after lives on the distinct-name relation. The r10
    * claim that this relation is "vocabulary-bounded at any corpus
    * scale" was WRONG — the sf10 dress rehearsal (r11) measured it:
    * TPC-H-style names are COMBINATORIAL (5 words from ~90 colors ⇒
    * ~6·10⁹ possible), so at 2M parts the names are nearly all
    * distinct, a prefix-4 block holds ~22k of them, and the in-block
    * quadratic is ~10¹⁰ JW scorings (>1 h at 25 cores). Fixed by the
    * MaxBasket discipline: each block keeps its `BlockCap` = 2000
    * HIGHEST-COUNT names (ties to the lexicographically first — a
    * DECLARED truncation mirrored in the oracle), bounding the block
    * quadratic at ~2M scorings regardless of corpus size. A no-op on
    * every fixture tier (≤ ~230 names/block at sf0.1 — goldens
    * unchanged). Scoring is a per-pair scalar inside
    * WholeStageCodegen; TakeOrdered bounds the output.
    */
  private[operators] val BlockCap = 2000

  def q218(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val names = c.part.groupBy(col("p_name"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .withColumn("blk", substring(col("p_name"), 1, 4))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("blk"))
          .orderBy(col("cnt").desc, col("p_name").asc)))
      .filter(col("rn") <= BlockCap)
      .drop("rn")
    val a = names.select(col("p_name").as("name_a"),
      col("cnt").as("cnt_a"), col("blk"))
    val b = names.select(col("p_name").as("name_b"),
      col("cnt").as("cnt_b"), col("blk"))
    a.join(b, Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("sim", expr("graft_jaro_winkler(name_a, name_b)"))
      .filter(col("sim") >= 0.90)
      .select(col("name_a"), col("name_b"),
        round(col("sim"), 4).as("sim"),
        (col("cnt_a") * col("cnt_b")).as("n_pairs"))
      .orderBy(desc("sim"), asc("name_a"), asc("name_b"))
      .limit(50)
  }

  val q218Oracle: String =
    s"""WITH all_names AS (
      |  SELECT p_name, CAST(COUNT(*) AS BIGINT) AS cnt,
      |    substring(p_name, 1, 4) AS blk
      |  FROM part GROUP BY 1),
      |names AS (
      |  SELECT p_name, cnt, blk FROM (
      |    SELECT p_name, cnt, blk, ROW_NUMBER() OVER (
      |      PARTITION BY blk ORDER BY cnt DESC, p_name) AS rn
      |    FROM all_names) WHERE rn <= $BlockCap),
      |pairs AS (
      |  SELECT a.p_name AS name_a, b.p_name AS name_b,
      |    jaro_winkler_similarity(a.p_name, b.p_name) AS sim,
      |    a.cnt * b.cnt AS n_pairs
      |  FROM names a JOIN names b ON a.blk = b.blk
      |    AND a.p_name < b.p_name)
      |SELECT name_a, name_b, ROUND(sim, 4) AS sim, n_pairs
      |FROM pairs
      |WHERE sim >= 0.90
      |ORDER BY sim DESC, name_a, name_b
      |LIMIT 50""".stripMargin

  /** Shared-text κ formulas for Q233 (the Q231 discipline): observed
    * agreement, chance agreement from the marginals, and Cohen's κ —
    * all assembled from the four exact int64 confusion cells.
    */
  private val q233Po = "CAST(n11 + n00 AS DOUBLE) / n"
  private val q233Pe =
    "(CAST(n11 + n10 AS DOUBLE) * (n11 + n01)" +
      " + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))" +
      " / (CAST(n AS DOUBLE) * n)"

  /** Q233 — Cohen's κ agreement audit between the near-dup pipeline's
    * OWN two stages (Cohen 1960): per document, label A = the MinHash-
    * LSH screen flags it (k=8 signatures over the 3-gram shingles, 4
    * bands × 2 rows — [[minHashSignatures]]/[[lshCandidates]], the
    * 100 TB candidate generator), label B = it participates in an
    * exact-VERIFIED shingle-Jaccard ≥ 0.6 pair
    * ([[graft.operators.Derived.nearDupPairs]], Q49's relation). The
    * 2×2 confusion is exact int64; κ = (p_o − p_e)/(1 − p_e) corrects
    * raw agreement for chance given both marginals, with the
    * Landis–Koch band on the ROUNDED κ. This is the screening-quality
    * audit as a single statistic: n10 is the false-candidate mass the
    * verifier pays for, n01 the verified pairs the banding missed
    * (the 1−(1−J^r)^b recall loss at r=2, b=4 — measurably nonzero at
    * J ≈ 0.6, which is exactly what the LSH recall spec predicts).
    *
    * Determinism: minhashes are md5-derived int64 minima, band
    * signatures exact strings, so both labels are set-membership tests
    * with no floats; the cells are exact counts and p_o/p_e/κ assemble
    * through the shared-text formulas above, rounded once.
    *
    * Scale notes: signature build is linear (one explode + groupBy per
    * doc), candidates are (band, band_sig)-keyed equi-joins — never
    * all-pairs; the pair artifact is read, not rebuilt; the confusion
    * pivot is one row. The κ audit costs no more than the screen it
    * audits.
    */
  def q233(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val docs = c.documents.select(col("doc_id"))
    val cand = lshCandidates(minHashSignatures(shingles(c), 8), 4)
    val la = cand.select(col("doc_lo").as("doc_id"))
      .unionAll(cand.select(col("doc_hi").as("doc_id")))
      .distinct().withColumn("a", lit(1L))
    val pairs = Derived.nearDupPairs(spark, dir)
    val nd = pairs.select(col("doc_lo").as("doc_id"))
      .unionAll(pairs.select(col("doc_hi").as("doc_id")))
      .distinct().withColumn("b", lit(1L))
    docs
      .join(la, Seq("doc_id"), "left")
      .join(nd, Seq("doc_id"), "left")
      .select(coalesce(col("a"), lit(0L)).as("a"),
        coalesce(col("b"), lit(0L)).as("b"))
      .groupBy()
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("a") * col("b")).cast("long").as("n11"),
        sum(col("a") * (lit(1L) - col("b"))).cast("long").as("n10"),
        sum((lit(1L) - col("a")) * col("b")).cast("long").as("n01"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).cast("long")
          .as("n00"))
      .withColumn("po", expr(q233Po))
      .withColumn("pe", expr(q233Pe))
      .withColumn("kappa",
        expr("CASE WHEN 1.0 - pe > 0 THEN ROUND((po - pe) / (1.0 - pe), 4)" +
          " END"))
      .select(col("n").as("n_docs"), col("n11"), col("n10"), col("n01"),
        col("n00"),
        expr("ROUND(po, 4)").as("p_agree"), col("kappa"),
        expr("CASE WHEN kappa IS NULL THEN 'degenerate'" +
          " WHEN kappa < 0.0 THEN 'poor'" +
          " WHEN kappa < 0.2 THEN 'slight'" +
          " WHEN kappa < 0.4 THEN 'fair'" +
          " WHEN kappa < 0.6 THEN 'moderate'" +
          " WHEN kappa < 0.8 THEN 'substantial'" +
          " ELSE 'near_perfect' END").as("agreement"))
  }

  val q233Oracle: String =
    s"""WITH tok AS (
       |  SELECT DISTINCT doc_id, sh AS token FROM (
       |    SELECT doc_id, UNNEST(list_transform(
       |      range(len(string_split(text, ' ')) - 2),
       |      i -> string_split(text, ' ')[i + 1] || ' ' ||
       |           string_split(text, ' ')[i + 2] || ' ' ||
       |           string_split(text, ' ')[i + 3])) AS sh
       |    FROM documents WHERE len(string_split(text, ' ')) >= 3)),
       |sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
       |inter AS (
       |  SELECT t1.doc_id AS d1, t2.doc_id AS d2, COUNT(*) AS inter
       |  FROM tok t1 JOIN tok t2 ON t1.token = t2.token AND t1.doc_id < t2.doc_id
       |  GROUP BY 1, 2),
       |prs AS (
       |  SELECT d1, d2 FROM inter
       |  JOIN sz s1 ON s1.doc_id = d1
       |  JOIN sz s2 ON s2.doc_id = d2
       |  WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.6),
       |nd AS (SELECT DISTINCT d1 AS doc_id FROM prs
       |       UNION SELECT DISTINCT d2 FROM prs),
       |sig AS (
       |  SELECT doc_id, p, MIN(hv) AS minhash FROM (
       |    SELECT doc_id, p, (${hexValueExpr("h")}) AS hv FROM (
       |      SELECT doc_id, token, UNNEST(range(8)) AS p,
       |        md5(CAST(UNNEST(range(8)) AS VARCHAR) || ':' || token) AS h
       |      FROM tok))
       |  GROUP BY 1, 2),
       |banded AS (
       |  SELECT doc_id, p % 4 AS band,
       |    string_agg(CAST(p AS VARCHAR) || '=' || CAST(minhash AS VARCHAR),
       |      ',' ORDER BY CAST(p AS VARCHAR) || '=' || CAST(minhash AS VARCHAR))
       |      AS band_sig
       |  FROM sig GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT b1.doc_id AS d1, b2.doc_id AS d2
       |  FROM banded b1 JOIN banded b2
       |    ON b1.band = b2.band AND b1.band_sig = b2.band_sig
       |    AND b1.doc_id < b2.doc_id),
       |la AS (SELECT DISTINCT d1 AS doc_id FROM cand
       |       UNION SELECT DISTINCT d2 FROM cand),
       |flags AS (
       |  SELECT d.doc_id,
       |    CASE WHEN la.doc_id IS NULL THEN 0 ELSE 1 END AS a,
       |    CASE WHEN nd.doc_id IS NULL THEN 0 ELSE 1 END AS b
       |  FROM documents d
       |  LEFT JOIN la ON la.doc_id = d.doc_id
       |  LEFT JOIN nd ON nd.doc_id = d.doc_id),
       |m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(a * b) AS BIGINT) AS n11,
       |    CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
       |    CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
       |    CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
       |  FROM flags),
       |k AS (
       |  SELECT *, $q233Po AS po, $q233Pe AS pe FROM m),
       |f AS (
       |  SELECT *, CASE WHEN 1.0 - pe > 0
       |    THEN ROUND((po - pe) / (1.0 - pe), 4) END AS kappa
       |  FROM k)
       |SELECT n AS n_docs, n11, n10, n01, n00,
       |  ROUND(po, 4) AS p_agree, kappa,
       |  CASE WHEN kappa IS NULL THEN 'degenerate'
       |    WHEN kappa < 0.0 THEN 'poor'
       |    WHEN kappa < 0.2 THEN 'slight'
       |    WHEN kappa < 0.4 THEN 'fair'
       |    WHEN kappa < 0.6 THEN 'moderate'
       |    WHEN kappa < 0.8 THEN 'substantial'
       |    ELSE 'near_perfect' END AS agreement
       |FROM f""".stripMargin

  /** Q251 — near-dup cluster edge-density audit (the transitive-
    * chaining pathology detector): Q187 reports cluster SIZES; this
    * reports whether each cluster is a clique (every member directly
    * ≥ 0.6-similar to every other) or a CHAIN (members glued only
    * through intermediaries — the classic single-link failure mode
    * where A~B~C merges A and C that share almost nothing; Jardine &
    * Sibson 1971's chaining critique of single-linkage). Per size
    * bucket over the CC clusters: verified pairs e vs possible pairs
    * k(k−1)/2, pooled density Σe/ΣC(k,2), the WORST cluster's density,
    * and the clique share (e = C(k,2) exactly). The dedup-quality read
    * a 100 TB collapse decision needs: low min-density at large sizes
    * means the canonical-selection gates (Q68/Q196) are merging
    * documents that never matched each other.
    *
    * Determinism: e, k, C(k,2) and the clique test are exact int64
    * (every verified pair lies inside exactly one CC cluster by
    * construction); pooled density is one divide; min density takes
    * the MIN of identical per-cluster divides rounded at 6.
    *
    * Scale notes: pure consumer of the bucketed artifacts
    * ([[graft.operators.Derived.nearDupPairs]] joined to
    * [[graft.operators.Derived.nearDupClusters]] on the bucketed key —
    * co-partitioned, no wide shuffle); output rows = distinct cluster
    * sizes.
    */
  def q251(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Derived.nearDupPairs(spark, dir)
      .select(col("doc_lo"), col("doc_hi"))
    val cc = Derived.nearDupClusters(spark, dir)
    val sizes = cc.groupBy(col("rep")).agg(count(lit(1)).as("k"))
    val edges = pairs
      .join(cc.select(col("member").as("doc_lo"), col("rep")), Seq("doc_lo"))
      .groupBy(col("rep")).agg(count(lit(1)).as("e"))
    sizes.join(edges, Seq("rep"))
      .withColumn("poss", expr("k * (k - 1) div 2"))
      .withColumn("dens", expr("ROUND(CAST(e AS DOUBLE) / poss, 6)"))
      .groupBy(col("k").as("cl_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("poss")).cast("long").as("possible_pairs"),
        sum(col("e")).cast("long").as("verified_pairs"),
        min(col("dens")).as("min_density"),
        sum(when(col("e") === col("poss"), 1L).otherwise(0L)).cast("long")
          .as("n_cliques"))
      .select(col("cl_size"), col("n_clusters"), col("possible_pairs"),
        col("verified_pairs"),
        expr("ROUND(CAST(verified_pairs AS DOUBLE) / possible_pairs, 6)")
          .as("pooled_density"),
        col("min_density"),
        expr("ROUND(CAST(n_cliques AS DOUBLE) / n_clusters, 6)")
          .as("clique_share"))
      .orderBy(asc("cl_size"))
  }

  val q251Oracle: String =
    """WITH RECURSIVE tok AS (
      |  SELECT DISTINCT doc_id, sh AS token FROM (
      |    SELECT doc_id, UNNEST(list_transform(
      |      range(len(string_split(text, ' ')) - 2),
      |      i -> string_split(text, ' ')[i + 1] || ' ' ||
      |           string_split(text, ' ')[i + 2] || ' ' ||
      |           string_split(text, ' ')[i + 3])) AS sh
      |    FROM documents WHERE len(string_split(text, ' ')) >= 3)),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
      |inter AS (
      |  SELECT t1.doc_id AS d1, t2.doc_id AS d2, COUNT(*) AS inter
      |  FROM tok t1 JOIN tok t2 ON t1.token = t2.token AND t1.doc_id < t2.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT d1, d2 FROM inter
      |  JOIN sz s1 ON s1.doc_id = d1
      |  JOIN sz s2 ON s2.doc_id = d2
      |  WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.6),
      |edges AS (
      |  SELECT d1 AS src, d2 AS dst FROM pairs
      |  UNION SELECT d2, d1 FROM pairs),
      |reach(node, r) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node),
      |comp AS (SELECT node, MIN(r) AS rep FROM reach GROUP BY node),
      |ksz AS (SELECT rep, CAST(COUNT(*) AS BIGINT) AS k FROM comp GROUP BY 1),
      |ec AS (
      |  SELECT c.rep, CAST(COUNT(*) AS BIGINT) AS e
      |  FROM pairs p JOIN comp c ON c.node = p.d1 GROUP BY 1),
      |per AS (
      |  SELECT ksz.k, ec.e, ksz.k * (ksz.k - 1) // 2 AS poss,
      |    ROUND(CAST(ec.e AS DOUBLE) / (ksz.k * (ksz.k - 1) // 2), 6) AS dens
      |  FROM ksz JOIN ec ON ec.rep = ksz.rep)
      |SELECT k AS cl_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
      |  CAST(SUM(poss) AS BIGINT) AS possible_pairs,
      |  CAST(SUM(e) AS BIGINT) AS verified_pairs,
      |  ROUND(CAST(SUM(e) AS DOUBLE) / SUM(poss), 6) AS pooled_density,
      |  MIN(dens) AS min_density,
      |  ROUND(CAST(SUM(CASE WHEN e = poss THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS clique_share
      |FROM per GROUP BY 1
      |ORDER BY cl_size""".stripMargin

  /** Shared-text Fellegi–Sunter log₂ weights for Q293 — the agreement
    * weight log₂(m/u_f) and disagreement weight log₂((1−m)/(1−u_f)),
    * with the declared m = 0.9 and the frequency-based
    * u_f = Σ_v n_v² / N² estimated from the data itself (Fellegi &
    * Sunter 1969 §3.3; Winkler 1988's u-from-frequencies practice).
    * u_f arrives as the exact int64 pair (num_f = Σ n_v², N), so both
    * texts are fixed expressions over exact ints.
    */
  private def q293Wa(num: String): String =
    s"(LN(0.9 * CAST(n AS DOUBLE) * n) - LN(CAST($num AS DOUBLE))) / LN(2)"
  private def q293Wd(num: String): String =
    s"(LN(0.1 * CAST(n AS DOUBLE) * n) - LN(CAST(n * n - $num AS DOUBLE)))" +
      " / LN(2)"

  /** Q293 — Fellegi–Sunter probabilistic record-linkage scoring
    * (Fellegi & Sunter 1969): the PROBABILISTIC member of the linkage
    * family, beside the string-metric members (Q218 Jaro–Winkler,
    * Q94/Q126 edit distance). Part records are blocked on
    * (p_name, p_size); candidate pairs are scored by the sum of
    * per-field log₂ likelihood ratios over the scored fields (brand,
    * type, $10 price bucket): agreement on a RARE field value is
    * strong evidence (u_f small ⇒ big weight), disagreement subtracts
    * log₂((1−m)/(1−u_f)). Weights come from the data: m = 0.9
    * declared, u_f = Σ_v n_v²/N² (the chance two random records agree
    * on field f). Top-30 scored pairs with the exact number of
    * instance pairs each profile pair represents.
    *
    * Determinism: records collapse to DISTINCT (name, size, brand,
    * type, bucket) profiles with exact counts (the Q218
    * collapse-then-pair discipline), pair order is the lexicographic
    * profile-string canonical order, u numerators are exact int64,
    * the three weight terms are the shared-text expressions above in
    * a FIXED + order, and the score is rounded once; ties break on
    * (name, size, profile_a, profile_b).
    *
    * Scale notes: the corpus scan is the profile-count aggregate plus
    * three vocabulary-bounded frequency aggregates (broadcast as one
    * stats row); the pair join lives on the (name, size)-blocked
    * DISTINCT-profile relation — in-block quadratics are over the
    * bounded profile vocabulary, never instances. N² inside int64 to
    * N ≈ 3·10⁹ records.
    */
  def q293(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val recs = c.part.select(col("p_name"), col("p_size"),
      col("p_brand"), col("p_type"),
      expr("CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) DIV 1000")
        .as("pb"))
    def fieldNum(f: String): DataFrame =
      recs.groupBy(col(f)).agg(count(lit(1)).cast("long").as("c"))
        .agg(sum(col("c") * col("c")).cast("long").as(s"num_$f"))
    val stats = recs.agg(count(lit(1)).cast("long").as("n"))
      .crossJoin(fieldNum("p_brand")).crossJoin(fieldNum("p_type"))
      .crossJoin(fieldNum("pb"))
      .select(col("n"),
        expr(q293Wa("num_p_brand")).as("wa_brand"),
        expr(q293Wd("num_p_brand")).as("wd_brand"),
        expr(q293Wa("num_p_type")).as("wa_type"),
        expr(q293Wd("num_p_type")).as("wd_type"),
        expr(q293Wa("num_pb")).as("wa_pb"),
        expr(q293Wd("num_pb")).as("wd_pb"))
    val profiles = recs
      .groupBy(col("p_name"), col("p_size"), col("p_brand"),
        col("p_type"), col("pb"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .withColumn("pk",
        expr("concat_ws('|', p_brand, p_type, CAST(pb AS STRING))"))
    val a = profiles.select(col("p_name"), col("p_size"),
      col("p_brand").as("brand_a"), col("p_type").as("type_a"),
      col("pb").as("pb_a"), col("cnt").as("cnt_a"), col("pk").as("profile_a"))
    val b = profiles.select(col("p_name"), col("p_size"),
      col("p_brand").as("brand_b"), col("p_type").as("type_b"),
      col("pb").as("pb_b"), col("cnt").as("cnt_b"), col("pk").as("profile_b"))
    a.join(b, Seq("p_name", "p_size"))
      .filter(col("profile_a") < col("profile_b"))
      .crossJoin(broadcast(stats))
      .select(col("p_name"), col("p_size"),
        col("profile_a"), col("profile_b"),
        (col("cnt_a") * col("cnt_b")).as("n_pairs"),
        round(
          when(col("brand_a") === col("brand_b"), col("wa_brand"))
            .otherwise(col("wd_brand")) +
          when(col("type_a") === col("type_b"), col("wa_type"))
            .otherwise(col("wd_type")) +
          when(col("pb_a") === col("pb_b"), col("wa_pb"))
            .otherwise(col("wd_pb")), 4).as("fs_score"))
      .orderBy(desc("fs_score"), asc("p_name"), asc("p_size"),
        asc("profile_a"), asc("profile_b"))
      .limit(30)
  }

  val q293Oracle: String =
    s"""WITH recs AS (
       |  SELECT p_name, p_size, p_brand, p_type,
       |    CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) // 1000 AS pb
       |  FROM part),
       |nb AS (SELECT CAST(SUM(c * c) AS BIGINT) AS num_brand FROM
       |  (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM recs GROUP BY p_brand)),
       |nt AS (SELECT CAST(SUM(c * c) AS BIGINT) AS num_type FROM
       |  (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM recs GROUP BY p_type)),
       |np AS (SELECT CAST(SUM(c * c) AS BIGINT) AS num_pb FROM
       |  (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM recs GROUP BY pb)),
       |stats AS (
       |  SELECT n,
       |    ${q293Wa("num_brand")} AS wa_brand,
       |    ${q293Wd("num_brand")} AS wd_brand,
       |    ${q293Wa("num_type")} AS wa_type,
       |    ${q293Wd("num_type")} AS wd_type,
       |    ${q293Wa("num_pb")} AS wa_pb,
       |    ${q293Wd("num_pb")} AS wd_pb
       |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM recs), nb, nt, np),
       |profiles AS (
       |  SELECT p_name, p_size, p_brand, p_type, pb,
       |    CAST(COUNT(*) AS BIGINT) AS cnt,
       |    concat_ws('|', p_brand, p_type, CAST(pb AS VARCHAR)) AS pk
       |  FROM recs GROUP BY 1, 2, 3, 4, 5)
       |SELECT a.p_name, a.p_size, a.pk AS profile_a, b.pk AS profile_b,
       |  a.cnt * b.cnt AS n_pairs,
       |  ROUND(
       |    (CASE WHEN a.p_brand = b.p_brand THEN s.wa_brand
       |      ELSE s.wd_brand END) +
       |    (CASE WHEN a.p_type = b.p_type THEN s.wa_type
       |      ELSE s.wd_type END) +
       |    (CASE WHEN a.pb = b.pb THEN s.wa_pb ELSE s.wd_pb END), 4)
       |    AS fs_score
       |FROM profiles a JOIN profiles b
       |  ON b.p_name = a.p_name AND b.p_size = a.p_size AND a.pk < b.pk
       |CROSS JOIN stats s
       |ORDER BY fs_score DESC, a.p_name, a.p_size, profile_a, profile_b
       |LIMIT 30""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "Q233" -> (q233 _), "Q251" -> (q251 _),
    "Q218" -> (q218 _), "Q293" -> (q293 _),
    "Q48" -> (q48 _), "Q49" -> (q49 _), "Q51" -> (q51 _), "Q61" -> (q61 _),
    "Q67" -> (q67 _), "Q68" -> (q68 _), "Q84" -> (q84 _), "Q85" -> (q85 _),
    "Q94" -> (q94 _), "Q126" -> (q126 _), "Q160" -> (q160 _),
    "Q166" -> (q166 _), "Q172" -> (q172 _), "Q187" -> (q187 _),
    "Q189" -> (q189 _), "Q196" -> (q196 _))

  def oracles: Map[String, String] = Map(
    "Q48" -> q48Oracle, "Q49" -> q49Oracle, "Q51" -> q51Oracle,
    "Q61" -> q61Oracle, "Q67" -> q67Oracle, "Q68" -> q68Oracle,
    "Q84" -> q84Oracle, "Q85" -> q85Oracle, "Q94" -> q94Oracle,
    "Q126" -> q126Oracle, "Q160" -> q160Oracle, "Q166" -> q166Oracle,
    "Q172" -> q172Oracle, "Q187" -> q187Oracle, "Q189" -> q189Oracle,
    "Q196" -> q196Oracle, "Q218" -> q218Oracle, "Q233" -> q233Oracle,
    "Q251" -> q251Oracle, "Q293" -> q293Oracle)
}
