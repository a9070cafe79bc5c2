package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf10 dress-rehearsal data generator (r10 verdict item 8) — a DEV TOOL,
  * not part of the driver contract. Writes a 100×-sf0.1-scale clone of the
  * fixture tables (60M lineitem, 15M orders, 2M part, 10M events, 500k
  * documents, 200k embeddings) so the heaviest legs + derived builds can
  * be measured one decade above the driver's top tier, where the first
  * spill/skew appears.
  *
  * Fully deterministic and driver-free: every value is an xxhash64-derived
  * function of the row id (no RNG state, no collect), matching the fixture
  * schemas/domains in FIXTURES.md — including events' 30-day ts span,
  * documents' 31-token vocabulary with ~5% seeded " dup" near-duplicates,
  * and 64-dim label-clustered embeddings. Never writes into the read-only
  * /root/testdata.
  *
  * Usage: runMain graft.Sf10Gen [outDir=/tmp/graft-sf10] [scale=100]
  * (scale multiplies sf0.1 row counts; scale=100 ≈ sf10).
  */
object Sf10Gen {

  private def u(tag: String): org.apache.spark.sql.Column =
    pmod(xxhash64(col("id"), lit(tag)), lit(1000000L))

  private def pick(tag: String, values: Seq[String]): org.apache.spark.sql.Column = {
    val arr = array(values.map(lit): _*)
    element_at(arr, (pmod(xxhash64(col("id"), lit(tag)), lit(values.size)) + 1).cast("int"))
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-sf10")
    val scale = args.lift(1).map(_.toLong).getOrElse(100L)
    val spark = Harness.session(Harness.cpus(32), 64)

    val nLineitem = 600000L * scale
    val nOrders = nLineitem / 4
    val nPart = 20000L * scale
    val nSupp = 1000L * scale
    val nCust = 15000L * scale
    val nEvents = 100000L * scale
    val nUsers = 1500L * scale
    val nDocs = 5000L * scale
    val nVecs = 2000L * scale

    def write(df: DataFrame, name: String): Unit = {
      val t0 = System.nanoTime()
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(f"[sf10gen] $name written in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    // ---- part (the Q218 input: TPC-H-style 5-word color names) ----
    val colors = Seq(
      "almond", "antique", "aquamarine", "azure", "beige", "bisque", "black",
      "blanched", "blue", "blush", "brown", "burlywood", "burnished", "chartreuse",
      "chiffon", "chocolate", "coral", "cornflower", "cornsilk", "cream", "cyan",
      "dark", "deep", "dim", "dodger", "drab", "firebrick", "floral", "forest",
      "frosted", "gainsboro", "ghost", "goldenrod", "green", "grey", "honeydew",
      "hot", "indian", "ivory", "khaki", "lace", "lavender", "lawn", "lemon",
      "light", "lime", "linen", "magenta", "maroon", "medium", "metallic",
      "midnight", "mint", "misty", "moccasin", "navajo", "navy", "olive",
      "orange", "orchid", "pale", "papaya", "peach", "peru", "pink", "plum",
      "powder", "puff", "purple", "red", "rose", "rosy", "royal", "saddle",
      "salmon", "sandy", "seashell", "sienna", "sky", "slate", "smoke", "snow",
      "spring", "steel", "tan", "thistle", "tomato", "turquoise", "violet",
      "wheat", "white", "yellow")
    val part = spark.range(nPart).toDF("id").select(
      col("id").as("p_partkey"),
      concat_ws(" ", (0 until 5).map(i => pick(s"pn$i", colors)): _*).as("p_name"),
      concat(lit("Brand#"), (pmod(xxhash64(col("id"), lit("pb")), lit(45)) + 10)
        .cast("string")).as("p_brand"),
      concat_ws(" ", pick("pt0", Seq("PROMO", "ECONOMY", "LARGE", "MEDIUM",
          "SMALL", "STANDARD")),
        pick("pt1", Seq("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")),
        pick("pt2", Seq("TIN", "NICKEL", "BRASS", "STEEL", "COPPER"))).as("p_type"),
      (pmod(xxhash64(col("id"), lit("ps")), lit(50)) + 1).cast("int").as("p_size"),
      round(lit(900.0) + u("pr") / lit(100.0), 2).as("p_retailprice"))
    write(part, "part")

    // ---- orders ----
    val orders = spark.range(nOrders).toDF("id").select(
      col("id").as("o_orderkey"),
      pmod(xxhash64(col("id"), lit("oc")), lit(nCust)).as("o_custkey"),
      pick("os", Seq("F", "O", "P")).as("o_orderstatus"),
      round(u("ot") / lit(2.0) + 1000.0, 2).as("o_totalprice"),
      to_timestamp(date_add(lit("1995-01-01").cast("date"),
        pmod(xxhash64(col("id"), lit("od")), lit(2400)).cast("int"))).as("o_orderdate"),
      pick("op", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
    write(orders, "orders")

    // ---- lineitem (4 lines/order, distinct parts within an order) ----
    val lineitem = spark.range(nLineitem).toDF("id").select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      pmod(xxhash64((col("id") / 4).cast("long"), (col("id") % 4), lit("lp")),
        lit(nPart)).as("l_partkey"),
      pmod(xxhash64(col("id"), lit("ls")), lit(nSupp)).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (pmod(xxhash64(col("id"), lit("lq")), lit(50)) + 1).cast("double").as("l_quantity"),
      round((pmod(xxhash64(col("id"), lit("lq")), lit(50)) + 1).cast("double") *
        (lit(900.0) + u("le") / lit(500.0)), 2).as("l_extendedprice"),
      (pmod(xxhash64(col("id"), lit("ld")), lit(11)).cast("double") / 100.0).as("l_discount"),
      (pmod(xxhash64(col("id"), lit("lt")), lit(9)).cast("double") / 100.0).as("l_tax"),
      pick("lr", Seq("A", "N", "R")).as("l_returnflag"),
      pick("ll", Seq("F", "O")).as("l_linestatus"),
      to_timestamp(date_add(lit("1995-01-02").cast("date"),
        pmod(xxhash64(col("id"), lit("lsd")), lit(2500)).cast("int"))).as("l_shipdate"))
    write(lineitem, "lineitem")

    // ---- events (30-day µs span, the fixture's ts convention) ----
    val day0us = 1704067200000000L // 2024-01-01T00:00:00Z in epoch-µs
    val events = spark.range(nEvents).toDF("id").select(
      col("id").as("event_id"),
      timestamp_micros(lit(day0us) +
        pmod(xxhash64(col("id"), lit("ets")), lit(30L * 86400000000L))).as("ts"),
      pmod(xxhash64(col("id"), lit("eu")), lit(nUsers)).as("user_id"),
      pick("et", Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(u("ev") / lit(5000.0), 2).as("value"),
      concat(lit("{\"k\": "), pmod(xxhash64(col("id"), lit("ep")), lit(100))
        .cast("string"), lit("}")).as("props"))
    write(events, "events")

    // ---- documents (31-token vocab, ~5% seeded " dup" near-duplicates) ----
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
      "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
      "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
      "stream", "table", "the", "value", "vector", "graft")
    val vocabArr = array(vocab.map(lit): _*)
    val docs = spark.range(nDocs).toDF("id")
      .withColumn("base", when(col("id") % 20 === 19, col("id") - 19).otherwise(col("id")))
      .withColumn("len", (pmod(xxhash64(col("base"), lit("dl")), lit(56)) + 5).cast("int"))
      .withColumn("toks", expr(
        s"transform(sequence(1, len), i -> element_at(" +
          "array(" + vocab.map(w => s"'$w'").mkString(",") + "), " +
          "CAST(pmod(xxhash64(base, CAST(i AS BIGINT), 'dt'), 31) + 1 AS INT)))"))
      .withColumn("text",
        when(col("id") % 20 === 19,
          concat(array_join(col("toks"), " "), lit(" dup")))
          .otherwise(array_join(col("toks"), " ")))
      .select(
        col("id").as("doc_id"), col("text"),
        pick("dla", Seq("de", "en", "es", "fr", "zh")).as("lang"),
        concat(lit("src"), pmod(xxhash64(col("id"), lit("dsr")), lit(20))
          .cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    write(docs, "documents")

    // ---- embeddings (64-dim, 10 label-clustered gaussians-ish) ----
    val emb = spark.range(nVecs).toDF("id")
      .withColumn("label", pmod(xxhash64(col("id"), lit("vl")), lit(10)).cast("int"))
      .withColumn("embedding", expr(
        "transform(sequence(0, 63), d -> CAST(" +
          "(pmod(xxhash64(CAST(label AS BIGINT), CAST(d AS BIGINT), 'vc'), 2001) - 1000) / 2000.0 + " +
          "(pmod(xxhash64(id, CAST(d AS BIGINT), 'vn'), 2001) - 1000) / 6000.0 AS FLOAT))"))
      .select(col("id").as("vec_id"), col("embedding"), col("label"))
    write(emb, "embeddings")

    // tiny dims, copied shapes
    val region = spark.range(5).toDF("id").select(
      col("id").cast("int").as("r_regionkey"),
      pick("rn", Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")).as("r_name"))
    write(region, "region")
    val nation = spark.range(25).toDF("id").select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("nation_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    write(nation, "nation")
    val supplier = spark.range(nSupp).toDF("id").select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), col("id").cast("string")).as("s_name"),
      pmod(xxhash64(col("id"), lit("sn")), lit(25)).cast("int").as("s_nationkey"),
      round(u("sa") / lit(100.0) - 1000.0, 2).as("s_acctbal"))
    write(supplier, "supplier")
    val customer = spark.range(nCust).toDF("id").select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id").cast("string")).as("c_name"),
      pmod(xxhash64(col("id"), lit("cn")), lit(25)).cast("int").as("c_nationkey"),
      round(u("ca") / lit(100.0) - 1000.0, 2).as("c_acctbal"),
      pick("cm", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))
    write(customer, "customer")

    spark.stop()
  }
}
