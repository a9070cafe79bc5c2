package graft

import java.io.PrintWriter

/** Shuffle-budget audit: for every declared query, count the physical
  * plan's exchanges, broadcasts, join flavors, and codegen spans — the
  * numbers that dominate cost at 100 TB (SCALE.md "ground rules"). Each
  * query is EXECUTED (noop sink) first so AQE's final plan is what gets
  * audited, then the markdown table is written to the given path:
  *
  *   sbt "runMain graft.PlanAudit /root/testdata/sf0.001 docs/PLANS.md"
  *
  * The table is committed so a reviewer (or a regression) can diff plan
  * shape changes query by query without re-running anything.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outPath = if (args.length > 1) args(1) else "docs/PLANS.md"
    val spark = Harness.session(4, 4, logLevel = "ERROR")

    val out = new PrintWriter(outPath)
    out.println("# Physical-plan audit (auto-generated by graft.PlanAudit)")
    out.println()
    out.println(s"Source: `$sfDir`, AQE FINAL plans (each query executed to a")
    out.println("noop sink first). Exchanges = shuffle boundaries; a broadcast")
    out.println("is counted separately, not as an exchange. Regenerate with")
    out.println("`sbt \"runMain graft.PlanAudit /root/testdata/sf0.001 docs/PLANS.md\"`.")
    out.println()
    out.println("| query | exchanges | broadcasts | SMJ | BHJ/BNLJ | codegen spans | TakeOrdered |")
    out.println("|---|---|---|---|---|---|---|")
    out.println("<!-- (empty) = result empty at this sf, AQE collapsed the final plan to")
    out.println("     EmptyRelation; the initial (pre-collapse) plan is audited so the")
    out.println("     row reflects the shape that runs on non-degenerate data. -->")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, f) =>
      try {
        spark.catalog.clearCache()
        val df = f(spark, sfDir)
        // Execute THIS DataFrame's own QueryExecution (a sink would wrap it
        // in a fresh one and leave this AQE plan unfinalized).
        df.queryExecution.toRdd.count()
        // Audit only the FINAL plan; AQE's toString appends the initial
        // plan below it, which would double every count.
        val parts = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")
        // A query whose result is empty AT THIS SF gets its whole final
        // plan folded into EmptyRelation (e.g. Q17's HAVING at sf0.001) —
        // audit the initial plan instead and flag the row.
        val (plan, label) =
          if (parts(0).contains("EmptyRelation") && parts.length > 1)
            (parts(1), s"$name (empty)") else (parts(0), name)
        val name2 = label
        def n(pat: String) = pat.r.findAllIn(plan).size
        val exchanges = n("(?i)exchange (hash|range|single|rebalance)")
        val bcast = n("BroadcastExchange")
        val smj = n("SortMergeJoin")
        val bhj = n("BroadcastHashJoin") + n("BroadcastNestedLoopJoin")
        val wsc = """\*\((\d+)\)""".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
        val tops = n("TakeOrderedAndProject")
        out.println(s"| $name2 | $exchanges | $bcast | $smj | $bhj | $wsc | $tops |")
      } catch {
        case e: Throwable =>
          out.println(s"| $name | plan failed: ${e.getClass.getSimpleName} | | | | | |")
      }
    }
    out.close()
    println(s"wrote $outPath")
    spark.stop()
  }
}
