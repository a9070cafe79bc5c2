package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Catalog

/** Distributed BPE-merge tokenizer training (Sennrich, Haddow & Birch,
  * "Neural Machine Translation of Rare Words with Subword Units",
  * ACL 2016 — the published algorithm; reference checkout is empty, see
  * SURVEY.md §0.1). The text→subword-ids step a training-data pipeline
  * runs after curation.
  *
  * Spark-first shape:
  *  - BPE trains on the WORD-FREQUENCY table, not the raw corpus: the
  *    corpus collapses to (word, count) in one hash aggregate, and every
  *    merge round works on that (much smaller, still distributed)
  *    relation.
  *  - Each round is ONE groupBy (adjacent-pair counts, map-side combined,
  *    weighted by word count) + a 1-row argmax collect + one broadcast
  *    map-side `replace` over the state — the "deterministic max-count
  *    merge each round is one groupBy + broadcast" discipline. Driver
  *    state per round: a single (a, b, count) triple.
  *  - Loop state is localCheckpoint'd per round (same lineage discipline
  *    as pageRank): round r's plan does not replay rounds 1..r-1.
  *
  * Symbol-sequence representation: each token is wrapped as
  * `token` and the word is the concatenation. A merge of
  * (a, b) is then a plain string `replace` of `⟨a⟩⟨b⟩` with `⟨ab⟩` —
  * left-to-right, non-overlapping, exactly BPE's merge semantics, with
  * the delimiters making cross-token false matches impossible (the
  * trick Sennrich's reference implementation plays with regex word
  * boundaries, minus the lookbehind RE2 lacks). Identical `replace`
  * semantics in Spark and DuckDB is what lets Q119 hash-gate the whole
  * training loop.
  *
  * Determinism: ties on pair count break to the lexicographically
  * smallest (a, b), so the merge table is a pure function of the corpus.
  */
object Bpe {

  private val SOT = "\u0001" // start-of-token
  private val EOT = "\u0002" // end-of-token

  /** (word, cnt) table of lowercase alpha words — the BPE training input.
    * One explode + hash aggregate over the corpus; everything after runs
    * on this (vocabulary-sized) relation.
    */
  def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(expr(
        s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Every character — every code point, since Java's `.` matches a
    * whole surrogate pair — wrapped as an individual token, by the same
    * regex replace Spark's `regexp_replace` and the local path run. */
  private val CharPattern = "(.)"
  private val CharWrap = s"$SOT$$1$EOT"

  private def charWrapped(wordCol: Column): Column =
    regexp_replace(wordCol, CharPattern, CharWrap)

  /** Spark's string order: UTF-8 bytes, unsigned — which is code point
    * order, not the UTF-16 order of `String.compareTo`. */
  private val Utf8Order: Ordering[String] = (x, y) =>
    java.util.Arrays.compare(x.codePoints().toArray, y.codePoints().toArray)

  /** Token array of a wrapped symbol string. */
  private def toks(sCol: Column): Column =
    split(trim(sCol, SOT + EOT), EOT + SOT)

  /** Word-table row budget for the driver-local training fast path: 2M
    * (word, cnt) rows ≈ tens of MB of strings — the same bounded-collect
    * class as the adaptive-CC edge budget. BPE trains on the VOCABULARY
    * (already collapsed by [[wordTable]]), which is orders of magnitude
    * below the corpus; past the budget the distributed loop runs
    * unchanged.
    */
  private[operators] val DriverBpeWordBudget = 2L * 1000 * 1000

  /** Train `numMerges` BPE merges over a (word, cnt) table. Returns the
    * merge table (step, lhs, rhs, pair_count) in merge order; stops early
    * if no adjacent pair remains.
    *
    * Adaptive (r14, the Q117 adaptive-CC discipline): the distributed
    * loop costs ~2.5 driver-synchronized jobs PER MERGE ROUND (measured:
    * 51 jobs / 2.8 s for the 20-round gate, nearly all job-launch fixed
    * cost). When one count probe shows the word table inside
    * [[DriverBpeWordBudget]], collect it and replay the identical rounds
    * locally — same code point tokens, same weighted adjacent-pair
    * counts, same (n DESC, a, b) argmax in Spark's UTF-8 byte order, same
    * left-to-right non-overlapping literal replace —
    * so the merge table is byte-identical (BpeSpec pins local ==
    * distributed with the distributed path forced via budget = 0).
    */
  def train(words: DataFrame, numMerges: Int): Seq[(Int, String, String, Long)] =
    train(words, numMerges, DriverBpeWordBudget)

  private[graft] def train(words: DataFrame, numMerges: Int,
      budget: Long): Seq[(Int, String, String, Long)] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    if (words.count() <= budget) return trainLocal(words, numMerges)
    var state = words
      .select(col("word"), col("cnt"), charWrapped(col("word")).as("s"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var step = 1
    var done = false
    while (step <= numMerges && !done) {
      val top = state
        .select(col("cnt"), toks(col("s")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("cnt"), explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(desc("n"), asc("a"), asc("b"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val a = top(0).getString(0); val b = top(0).getString(1)
        merges += ((step, a, b, top(0).getLong(2)))
        // Checkpoint every 4th round, not every round (r13): a chained
        // `replace` tail of ≤ 4 merges replayed inside the next argmax
        // job costs microseconds over the vocabulary-sized state, while
        // the per-round localCheckpoint was one extra Spark job per
        // merge (measured: 66 jobs for the 20-round gate, mostly
        // checkpoint materializations). Replace is deterministic, so
        // the chained expression yields byte-identical strings and the
        // merge table is unchanged.
        state = state.withColumn("s",
            call_function("replace", col("s"),
              lit(SOT + a + EOT + SOT + b + EOT), lit(SOT + a + b + EOT)))
        if (step % 4 == 0) state = state.localCheckpoint()
        step += 1
      }
    }
    merges.toSeq
  }

  /** Driver-local replay of the identical merge rounds over a collected
    * (word, cnt) vocabulary. Semantics mirrored operation by operation:
    * the same code point wrap, tokens = split(trim(s, SOT+EOT), EOT+SOT)
    * with empties kept (Spark split keeps trailing empties), pair counts
    * weighted by cnt, argmax = max n then the smallest (a, b) in UTF-8
    * byte order, merge = literal
    * left-to-right non-overlapping replace (String.replace == Spark
    * replace for literal patterns).
    */
  private def trainLocal(words: DataFrame, numMerges: Int): Seq[(Int, String, String, Long)] = {
    val sp = words.sparkSession
    val rows: Array[(String, Long)] = {
      import sp.implicits._
      words.select(col("word"), col("cnt").cast("long")).as[(String, Long)].collect()
    }
    val trimSet = Set(SOT.charAt(0), EOT.charAt(0))
    val sep = java.util.regex.Pattern.quote(EOT + SOT)
    def toksOf(s: String): Array[String] = {
      var lo = 0
      var hi = s.length
      while (lo < hi && trimSet(s.charAt(lo))) lo += 1
      while (hi > lo && trimSet(s.charAt(hi - 1))) hi -= 1
      s.substring(lo, hi).split(sep, -1)
    }
    var state: Array[(String, Long)] = rows.map { case (w, c) =>
      (w.replaceAll(CharPattern, CharWrap), c)
    }
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var step = 1
    var done = false
    while (step <= numMerges && !done) {
      val counts = new scala.collection.mutable.HashMap[(String, String), Long]()
      state.foreach { case (s, cnt) =>
        val t = toksOf(s)
        var i = 0
        while (i < t.length - 1) {
          val key = (t(i), t(i + 1))
          counts.update(key, counts.getOrElse(key, 0L) + cnt)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), n) = counts.minBy { case ((a, b), n) => (-n, a, b) }(
          Ordering.Tuple3(Ordering.Long, Utf8Order, Utf8Order))
        merges += ((step, a, b, n))
        val pattern = SOT + a + EOT + SOT + b + EOT
        val repl = SOT + a + b + EOT
        state = state.map { case (s, cnt) => (s.replace(pattern, repl), cnt) }
        step += 1
      }
    }
    merges.toSeq
  }

  /** Segment a word column by an already-trained merge list: the char
    * wrap followed by the merges REPLAYED IN ORDER (BPE encode is exactly
    * the training replaces applied greedily). Pure string expressions —
    * fully codegen'd, no UDF, no shuffle.
    */
  def segment(wordCol: Column, merges: Seq[(String, String)]): Column = {
    val merged = merges.foldLeft(charWrapped(wordCol)) { case (acc, (a, b)) =>
      call_function("replace", acc,
        lit(SOT + a + EOT + SOT + b + EOT), lit(SOT + a + b + EOT))
    }
    toks(merged)
  }

  /** Subword vocabulary of a merge table over a word table: base
    * characters (sorted) take ids 0..C-1, each merge's output token takes
    * the next id in merge order — Sennrich's vocab construction.
    */
  def vocab(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = words.sparkSession
    val chars = words
      .select(explode(split(col("word"), "")).as("ch"))
      .filter(length(col("ch")) === 1)
      .distinct()
      .orderBy(asc("ch"))
      .collect().map(_.getString(0))
    val tokens = chars ++ merges.map { case (a, b) => a + b }
    spark.createDataFrame(tokens.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toSeq)
      .toDF("token", "token_id")
  }

  /** Q119 — the BPE training gate: the first 20 merges over the documents
    * word table, hash-checked against a DuckDB oracle that unrolls the
    * identical round structure (pair count → lexicographic argmax →
    * delimited replace) as chained CTEs. Gating the merge TABLE gates the
    * whole iterative algorithm — same pattern as Q117's DBSCAN gate.
    */
  val NumMerges = 20

  def q119(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val merges = train(wordTable(c.documents, "text"), NumMerges)
    spark.createDataFrame(merges).toDF("step", "lhs", "rhs", "pair_count")
      .select(col("step").cast("long").as("step"), col("lhs"), col("rhs"),
        col("pair_count").cast("long").as("pair_count"))
      .orderBy(asc("step"))
  }

  /** The oracle unrolls NumMerges rounds as chained CTEs — generated, not
    * hand-written, so engine and oracle can never drift on round count.
    * Every per-round CTE is MATERIALIZED: each s_r is referenced twice
    * (p_{r+1} and s_{r+1}), so DuckDB's default inlining would expand the
    * chain into 2^NumMerges scans of the documents table.
    */
  val q119Oracle: String = {
    val sb = new StringBuilder
    sb ++= """WITH words AS MATERIALIZED (
             |  SELECT w AS word, COUNT(*) AS cnt FROM (
             |    SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS w
             |    FROM documents)
             |  GROUP BY 1),
             |s0 AS MATERIALIZED (SELECT word, cnt,
             |  regexp_replace(word, '(.)', chr(1)||'\1'||chr(2), 'g') AS s FROM words)""".stripMargin
    for (r <- 1 to NumMerges) {
      val prev = s"s${r - 1}"
      sb ++= s""",
                |p$r AS MATERIALIZED (SELECT a, b, SUM(cnt) AS n FROM (
                |  SELECT cnt, UNNEST(toks[1:len(toks)-1]) AS a, UNNEST(toks[2:len(toks)]) AS b
                |  FROM (SELECT cnt, string_split(trim(s, chr(1)||chr(2)), chr(2)||chr(1)) AS toks
                |        FROM $prev)
                |  WHERE len(toks) >= 2) GROUP BY 1, 2),
                |b$r AS MATERIALIZED (SELECT $r AS step, a, b, n FROM p$r ORDER BY n DESC, a, b LIMIT 1),
                |s$r AS MATERIALIZED (SELECT word, cnt,
                |  replace(s, chr(1)||m.a||chr(2)||chr(1)||m.b||chr(2), chr(1)||m.a||m.b||chr(2)) AS s
                |  FROM $prev, b$r m)""".stripMargin
    }
    sb ++= s"""
              |SELECT CAST(step AS BIGINT) AS step, a AS lhs, b AS rhs,
              |  CAST(n AS BIGINT) AS pair_count FROM (
              |  ${(1 to NumMerges).map(r => s"SELECT * FROM b$r").mkString(" UNION ALL ")})
              |ORDER BY step""".stripMargin
    sb.toString
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "Q119" -> (q119 _))

  def oracles: Map[String, String] = Map(
    "Q119" -> q119Oracle)
}
