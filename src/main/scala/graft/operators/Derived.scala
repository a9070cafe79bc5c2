package graft.operators

import java.security.MessageDigest
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized derived relations — compute an expensive shared relation
  * ONCE per dataset, persist it as a BUCKETED parquet artifact, and serve
  * every consumer from the artifact (the materialized-view mechanism the
  * round-4 verdict named as the engine's last architecture gap).
  *
  * The first derived relation is the co-order part graph: Q103, Q106
  * and Q107 each re-ran the same ~lineitem-squared pair expansion + wide
  * distinct every execution; at 100 TB that edge build dwarfs the
  * per-query algorithm cost. Here it runs once per dataset and lands on
  * disk bucketed by `a` (sorted by a, b), so consumers that join or
  * aggregate on the leading edge endpoint start from a co-located, sorted
  * layout with no exchange under the join.
  *
  * Artifact lifecycle (one [[Artifact]] per relation):
  *  - Cache key = md5 of the dataset path, the artifact's source table
  *    file listing (names, sizes, mtimes) and the artifact's code
  *    `version`. Regenerated data invalidates the artifact; so does a
  *    bumped `version`. RULE: bump `version` whenever a change to a build
  *    (or to anything it calls) can change its output — the key cannot
  *    see code, so an artifact written by the older build would otherwise
  *    be served silently.
  *  - Location = `spark.graft.derivedDir` (conf) or
  *    `java.io.tmpdir/graft-derived`; never inside the (read-only)
  *    dataset directory. Table `graft_<name>_<key>`, directory
  *    `<name>_<key>`.
  *  - Within a session the artifact is a catalog table (so Spark's
  *    bucketing metadata applies). A fresh session over existing files
  *    (`_SUCCESS` present) re-registers the same EXTERNAL bucketed table
  *    instead of rebuilding: the column list is read from the written
  *    parquet files, the bucket spec is the declared one — the files were
  *    written by the bucketed save with that spec, so the layout matches.
  *  - `rebuild` drops the table, deletes the directory and gets; the
  *    bench uses it so each build is timed as its own leg and query
  *    timings are pure consumers (stale state can never flatter them).
  */
object Derived {

  /** Basket-size cap for pair expansion: a basket of b items expands to
    * b²/2 pairs, so one pathological mega-basket (a 10⁶-line order)
    * would emit 10¹² rows from a single task. Baskets over the cap are
    * truncated to their `MaxBasket` smallest item ids — deterministic,
    * a no-op on realistic order sizes (fixture max ≈ 7), and mirrored in
    * the Q103/Q106/Q107 oracle SQL so the gate compares like-for-like.
    */
  private[operators] val MaxBasket = 1000

  /** Map-side pair expansion of a distinct (ok, pk) relation: one
    * groupBy (map-side combined collect_set) instead of an order-keyed
    * SELF-JOIN — the shuffle carries each (order, part) once, expansion
    * happens on the sorted per-order array, and sort + (i<j) slicing
    * yields a<b directly. One output row per (order, unordered pair).
    */
  private[operators] def pairOccurrences(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_orderkey"))
      .agg(slice(sort_array(collect_set(col("l_partkey"))), 1, MaxBasket).as("parts"))
      .select(explode(expr(
        """flatten(transform(parts, (x, i) ->
          |  transform(slice(parts, i + 2, size(parts)), y ->
          |    struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))

  /** The unmaterialized build: distinct co-order pairs with their
    * cross-order multiplicity. Exposed for tests that pin build ==
    * artifact.
    */
  def buildCoOrderPairCounts(lineitem: DataFrame): DataFrame =
    pairOccurrences(lineitem)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_pairs"))

  private def datasetKeyFor(spark: SparkSession, dir: String, source: String,
      version: Int): String = {
    val src = new Path(s"$dir/$source.parquet")
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing =
      if (fs.exists(src))
        fs.listStatus(src)
          .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
          .sorted.mkString("|")
      else "missing"
    MessageDigest.getInstance("MD5")
      .digest(s"$dir|$listing|v$version".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
  }

  private def baseDir(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.derivedDir")
      .getOrElse(s"${System.getProperty("java.io.tmpdir")}/graft-derived")

  /** One derived relation: `build` computes it from the dataset, the
    * artifact stores it under `name`, keyed on the `source` table's files
    * and `version`, bucketed by `bucketCols` into `buckets` files sorted
    * by `sortCols`. Calling it gets (or builds) the bucketed table.
    */
  private[graft] final case class Artifact(name: String, source: String,
      buckets: Int, bucketCols: Seq[String], sortCols: Seq[String],
      version: Int)(build: (SparkSession, String) => DataFrame) {

    /** (catalog table, directory) for this dataset. */
    private[graft] def place(spark: SparkSession, dir: String): (String, String) = {
      val key = datasetKeyFor(spark, dir, source, version)
      (s"graft_${name}_$key", s"${baseDir(spark)}/${name}_$key")
    }

    /** Get-or-build. The expensive build runs at most once per dataset
      * key; later calls, in this session or a fresh one, read the
      * bucketed table.
      */
    def apply(spark: SparkSession, dir: String): DataFrame = Derived.synchronized {
      val (table, loc) = place(spark, dir)
      if (!spark.catalog.tableExists(table)) {
        val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(new Path(loc, "_SUCCESS")))
          spark.sql(
            s"""CREATE TABLE $table (${spark.read.parquet(loc).schema.toDDL})
               |USING PARQUET
               |CLUSTERED BY (${bucketCols.mkString(", ")})
               |SORTED BY (${sortCols.mkString(", ")}) INTO $buckets BUCKETS
               |LOCATION '$loc'""".stripMargin)
        else
          build(spark, dir).write.mode("overwrite")
            .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
            .sortBy(sortCols.head, sortCols.tail: _*)
            .option("path", loc)
            .saveAsTable(table)
      }
      spark.table(table)
    }

    /** Forced fresh build: drop the table, delete the files, get. */
    def rebuild(spark: SparkSession, dir: String): DataFrame = Derived.synchronized {
      val (table, loc) = place(spark, dir)
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val path = new Path(loc)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) fs.delete(path, true)
      apply(spark, dir)
    }
  }

  /** The co-order pair counts (a, b, n_pairs). Storage keeps pair counts,
    * NOT just distinct edges: the count column is free at build time
    * (same shuffle), Q107 needs it, and Q103/Q106 get their distinct edge
    * list by projection (every stored pair is distinct by construction of
    * the groupBy).
    */
  val coOrderPairCounts: Artifact =
    Artifact("co_pairs", "lineitem", 8, Seq("a"), Seq("a", "b"), version = 1)(
      (spark, dir) => buildCoOrderPairCounts(graft.Catalog(spark, dir).lineitem))

  /** The per-node triangle counts (node, n_triangles) of the co-order
    * graph from ONE degree-oriented enumeration (r13). Q103 (top-k
    * participation) and Q145 (clustering coefficient) both consumed the
    * FULL enumeration per execution — at 100 TB the enumerated wedge mass
    * (O(m^1.5), the r12 sweep's 75 GB-spill Q103 leg) is the whole cost,
    * and it was paid twice per report batch. Reads [[coOrderPairCounts]],
    * so its bench leg runs after that one.
    */
  val triangleCounts: Artifact =
    Artifact("co_tri", "lineitem", 8, Seq("node"), Seq("node"), version = 1) { (spark, dir) =>
      // r14: the decomposed per-node aggregation (closing edges contribute
      // their intersection size, apexes explode) — T + 2m aggregation rows
      // instead of 3T corner rows; identical counts (AnalyticsOpsSpec).
      Graphs.triangleCountsPerNode(
          coOrderPairCounts(spark, dir).select(col("a"), col("b")))
        .select(col("node").cast("long").as("node"),
          col("n_triangles").cast("long").as("n_triangles"))
    }

  /** The verified shingle-Jaccard ≥ 0.6 pair relation (doc_lo, doc_hi,
    * jaccard) — the discovery output of the near-dup pipeline. Q49 (pair
    * listing) and Q166 (cross-source rollup) consume it directly;
    * [[nearDupClusters]] builds its CC over it. One discovery pass per
    * data drop instead of one per report.
    *
    * Build strategy is ADAPTIVE (TextOps.jaccardFromTokens, r11 verdict
    * item 1): exact discovery (direct or PPJoin prefix-filtered join)
    * while its measured candidate mass fits the declared budgets; when
    * even the prefix-filtered mass degenerates (low-entropy corpora —
    * the sf10 rehearsal measured >70 GB scratch DNF), discovery switches
    * to MinHash-LSH banding + exact verification of candidates. Fixture
    * tiers always take the exact path (their direct mass is ~3M rows),
    * so the artifact's gate hashes are byte-identical; LSH-vs-exact set
    * equality at fixture scale is pinned in NearDupSpec.
    */
  val nearDupPairs: Artifact =
    Artifact("neardup_pairs", "documents", 8, Seq("doc_lo"), Seq("doc_lo", "doc_hi"),
        version = 1) { (spark, dir) =>
      TextOps.jaccardFromTokens(spark, NearDup.shingles(graft.Catalog(spark, dir)), 0.6)
        .select(col("doc_lo"), col("doc_hi"), col("jaccard"))
    }

  /** The near-dup cluster assignment (rep, member): connected components
    * over [[nearDupPairs]]. Q67 (cluster listing), Q68 (min-id
    * retention), Q187 (size histogram) and Q196 (quality-aware selection)
    * consume it; before these artifacts each re-ran the whole
    * discovery+CC pipeline per report — at 100 TB the difference between
    * clustering the corpus once per data drop and four times per report
    * batch.
    */
  val nearDupClusters: Artifact =
    Artifact("neardup_cc", "documents", 8, Seq("rep"), Seq("rep", "member"),
        version = 1) { (spark, dir) =>
      // Adaptive CC (r13): the verified dup-pair graph is a sparse side
      // output; under the probe budget the driver union-find replaces the
      // star-contraction loop's 2-jobs-per-round fixpoint — same labels.
      NearDup.connectedComponentsAdaptive(
        nearDupPairs(spark, dir).select(col("doc_lo"), col("doc_hi")))
    }

  /** The LPA community labels (node, label): the deterministic 3-round
    * min-tiebreak label propagation over the support-pruned co-order
    * graph. Q156 (community listing) and Q342 (modularity scoring)
    * consume it; before this artifact each re-ran the 3 join+window LPA
    * rounds per execution. Bucketed by node so Q342's per-endpoint label
    * joins start co-located.
    */
  val lpaLabels: Artifact =
    Artifact("lpa_labels", "lineitem", 8, Seq("node"), Seq("node"), version = 1) { (spark, dir) =>
      val edges = coOrderPairCounts(spark, dir)
        .filter(col("n_pairs") >= 2).select(col("a"), col("b"))
      Graphs.labelPropagation(edges, Graphs.LpaRounds)
        .select(col("node").cast("long").as("node"),
          col("label").cast("long").as("label"))
    }

  /** The unmaterialized build of the zero-filled per-type daily
    * revenue-cents grid on the GLOBAL [dmin, dmax] day spine — the shared
    * series base of the entire Stats/Trend/Behavior spine (~34 gates).
    * One corpus scan; output is types × calendar-days rows, bounded at
    * ANY corpus size.
    */
  def buildDailyCentsGrid(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"),
        expr("(ts DIV 1000) DIV 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("cents")).cast("long").as("v"))
    val ext = daily.agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
    daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(ext))
      .select(col("event_type"), explode(expr("sequence(dmin, dmax)")).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("v"), lit(0L)).as("v"))
  }

  /** The daily-cents grid (event_type, day, v). Before this artifact,
    * every one of the ~34 consumer gates re-ran the full `events` scan +
    * (type, day) aggregate per execution — at 100 TB that is 34 corpus
    * scans for one tiny (type × day) relation. Sorted by (event_type,
    * day), so the dominant consumer shape — a window PARTITION BY
    * event_type ORDER BY day — starts from a co-located sorted layout.
    */
  val dailyCentsGrid: Artifact =
    Artifact("daily_grid", "events", 4, Seq("event_type"), Seq("event_type", "day"),
        version = 1)((spark, dir) => buildDailyCentsGrid(graft.Catalog(spark, dir).events))

  /** Kept because the benchmark's daily-grid set-up step calls it by this
    * name; everything else calls `dailyCentsGrid.rebuild`. */
  def rebuildDailyCentsGrid(spark: SparkSession, dir: String): DataFrame =
    dailyCentsGrid.rebuild(spark, dir)

  /** The FastSS deletion signatures over part names: (p_partkey, sig)
    * with sig ranging over each name's ≤k-deletion neighborhood hashes,
    * in 32 buckets sorted by (sig, p_partkey). The r12 sf10 sweep
    * measured Q126's in-memory signature self-join inadmissible at
    * combinatorial-name scale (2M names × ~466 variants ≈ 10⁹ rows OOMed
    * a 48 GB heap — SCALE.md finding 3); served from this artifact, BOTH
    * sides of the candidate self-join read the same bucketed, sig-sorted
    * layout, so the join runs bucket-co-located with NO exchange and NO
    * hash-table build — a streaming sort-merge whose memory is bounded by
    * the largest single-signature group, not the relation. k is part of
    * the artifact name: k = 2 is the declared gate semantics; k = 1 (~L
    * variants/name instead of ~L²/2) is the probe-gated fallback one more
    * decade up, which keeps d ≤ 1 recall complete but finds only the
    * d = 2 pairs that share a 1-deletion variant — a documented recall
    * trade, the Q334 sampled-twin discipline.
    *
    * The stored sig FOLDS THE BRAND BLOCK into the variant hash
    * (xxhash64(p_brand, variant)): the candidate self-join then has sig
    * as its ONLY key, which the bucket sort order (sig, p_partkey)
    * satisfies exactly — a ZERO-SORT streaming merge (the first cut
    * joined on (brand, sig) and re-sorted all 10⁹ rows per run: 47 GB of
    * measured spill). Cross-brand pairs collide only at xxhash64 odds
    * (2⁻⁶⁴, as for the variant hashes), and every candidate is still
    * verified by the banded Levenshtein before it can reach the output.
    */
  def fastssSignatures(k: Int): Artifact =
    Artifact(s"fastss2_k$k", "part", 32, Seq("sig"), Seq("sig", "p_partkey"),
        version = 1) { (spark, dir) =>
      graft.Catalog(spark, dir).part
        .select(col("p_brand"), col("p_partkey"),
          explode(array_distinct(expr(s"graft_deletion_hashes(p_name, $k)"))).as("v"))
        .select(col("p_partkey"), xxhash64(col("p_brand"), col("v")).as("sig"))
        // One shuffle on the bucket key so each bucket lands as one
        // sorted file; the writer's per-task sort is then exactly the
        // bucket's rows (external, spillable) instead of a per-task
        // re-sort of a mixed-bucket partition.
        .repartition(32, col("sig"))
    }

  /** The build legs Bench times, in run order; `runMain graft.Bench
    * <leg>` selects one by name. A leg rebuilds its artifacts in
    * sequence, after every leg it reads from. */
  val buildLegs: Seq[(String, Seq[Artifact])] = Seq(
    "derived_build" -> Seq(coOrderPairCounts),
    "tri_build" -> Seq(triangleCounts),
    "neardup_build" -> Seq(nearDupPairs, nearDupClusters),
    "daily_grid_build" -> Seq(dailyCentsGrid),
    "lpa_build" -> Seq(lpaLabels))
}
