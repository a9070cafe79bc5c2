package graft

import org.apache.spark.sql.functions._
import graft.operators.Bpe

/** BPE tokenizer training (Q119 family): merge-table shape, encode
  * round-trip, and the subword-id vocabulary contract.
  */
class BpeSpec extends SparkSpec {

  test("merge table is deterministic, monotone in step, and counts never increase") {
    val c = Catalog(spark, sf("sf0.001"))
    val words = Bpe.wordTable(c.documents, "text")
    val m1 = Bpe.train(words, 10)
    val m2 = Bpe.train(words, 10)
    assert(m1 == m2, "BPE training is not deterministic")
    assert(m1.map(_._1) == (1 to m1.length), s"steps not dense: ${m1.map(_._1)}")
    // the max pair count is non-increasing across rounds (merging can only
    // remove occurrences of other pairs or create rarer ones)
    m1.sliding(2).foreach {
      case Seq(p, q) => assert(q._4 <= p._4, s"count rose: $p -> $q")
      case _ =>
    }
  }

  test("driver-local training equals the distributed loop exactly") {
    val c = Catalog(spark, sf("sf0.001"))
    val words = Bpe.wordTable(c.documents, "text").cache()
    try {
      val local = Bpe.train(words, 12) // inside the budget -> local path
      val dist = Bpe.train(words, 12, budget = 0L) // force distributed
      assert(local == dist,
        s"local/distributed merge tables diverge:\n$local\nvs\n$dist")
      assert(local.nonEmpty)
    } finally { words.unpersist() }
  }

  test("driver-local training equals the distributed loop on non-ASCII words") {
    import spark.implicits._
    // Astral (a surrogate pair in UTF-16) and fullwidth words tie on
    // their pair counts: UTF-16 order puts U+1F600 first, UTF-8 byte
    // order (Spark's) puts U+FF21 first.
    val words = Seq(("😀😀", 5L), ("ＡＡ", 5L), ("éé", 3L), ("éß", 2L), ("ßa", 1L))
      .toDF("word", "cnt")
    val local = Bpe.train(words, 4)
    val dist = Bpe.train(words, 4, budget = 0L)
    assert(local == dist, s"local/distributed merge tables diverge:\n$local\nvs\n$dist")
    assert(local.head == ((1, "Ａ", "Ａ", 5L)), local)
  }

  test("segment o merges round-trips: concatenated subwords reproduce every word") {
    val c = Catalog(spark, sf("sf0.001"))
    val words = Bpe.wordTable(c.documents, "text").cache()
    try {
      val merges = Bpe.train(words, 15).map(m => (m._2, m._3))
      val bad = words
        .withColumn("toks", Bpe.segment(col("word"), merges))
        .filter(concat_ws("", col("toks")) =!= col("word"))
        .count()
      assert(bad == 0, s"$bad words do not round-trip through segment")

      // every produced subword is in the vocabulary, and ids are dense
      val v = Bpe.vocab(words, merges)
      val vocabTokens = v.collect().map(_.getString(0)).toSet
      val used = words.select(explode(Bpe.segment(col("word"), merges)).as("t"))
        .distinct().collect().map(_.getString(0)).toSet
      assert(used.subsetOf(vocabTokens),
        s"subwords outside the vocab: ${used -- vocabTokens}")
      val ids = v.collect().map(_.getLong(1)).sorted
      assert(ids.sameElements(ids.indices.map(_.toLong)), "ids not dense from 0")

      // id-encode via the vocab join: every word becomes a non-empty id
      // sequence (the text -> subword-ids step)
      val encoded = words
        .select(col("word"), posexplode(Bpe.segment(col("word"), merges)).as(Seq("pos", "t")))
        .join(v.withColumnRenamed("token", "t"), Seq("t"))
        .groupBy(col("word"))
        .agg(array_sort(collect_list(struct(col("pos"), col("token_id")))).as("cells"))
        .select(col("word"), expr("transform(cells, c -> c.token_id)").as("ids"))
      assert(encoded.filter(size(col("ids")) === 0).count() == 0)
      assert(encoded.count() == words.count())
    } finally { words.unpersist(); () }
  }

  test("greedy merge is left-to-right non-overlapping (aaa under (a,a) -> [aa, a])") {
    import spark.implicits._
    val df = Seq("aaa", "aaaa", "aba").toDF("word")
    val got = df.select(col("word"),
        Bpe.segment(col("word"), Seq(("a", "a"))).as("toks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(got("aaa") == List("aa", "a"), got.toString)
    assert(got("aaaa") == List("aa", "aa"), got.toString)
    assert(got("aba") == List("a", "b", "a"), got.toString)
  }
}
