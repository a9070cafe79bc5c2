package graft

import java.io.PrintWriter

/** Dump `explain("formatted")` of named queries to files — the
  * before/after plan evidence the optimization rounds commit under
  * `plans/rNN/`:
  *
  *   sbt "runMain graft.PlanDump /root/testdata/sf0.1 plans/r13 _after Q198 Q346"
  *
  * Each query is EXECUTED to the noop sink first so the dumped plan is
  * AQE's FINAL plan (an unexecuted explain shows isFinalPlan=false and
  * pre-AQE exchanges), matching what the bench actually ran.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    val cpus = Harness.cpus(32)
    val spark = Harness.session(cpus, cpus, logLevel = "ERROR")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      spark.catalog.clearCache()
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.write.mode("overwrite").format("noop").save()
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val out = new PrintWriter(s"$outDir/${name.toLowerCase}$suffix.txt")
      out.println(s"-- $name @ $sfDir (AQE final plan; explain formatted)")
      out.println(formatted)
      out.close()
      println(s"wrote $outDir/${name.toLowerCase}$suffix.txt")
    }
    spark.stop()
  }
}
