package graft

/** Dev profiler: run one leg and print every Spark job's wall time — the
  * fastest way to see whether a multi-job operator (CC loops, probe-gated
  * builds, the CP fit loops) is bound by data or by job-launch fixed
  * costs. The leg is a registry query, run to the noop sink, or `cpals` /
  * `nnhals`, Bench's CP fit of the Q43 tensor (rank 8, 10 iterations, one
  * slab per core):
  *
  *   sbt "runMain graft.JobProfile /root/testdata/sf0.1 Q117"
  *   sbt "runMain graft.JobProfile <sfDir> nnhals"
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val cpus = Harness.cpus(32)
    val spark = Harness.session(cpus, cpus, logLevel = "ERROR")
    def body(): Unit = name match {
      case "cpals" | "nnhals" =>
        Bench.cpFit(name, operators.EventTime.q43(spark, sfDir), cpus)
      case _ =>
        SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
    }
    def run(): Harness.Leg[Unit] = Harness.leg(spark, name)(body()).orThrow
    // Warm run (codegen/footers), then the measured run.
    run()
    val leg = run()
    leg.jobs.foreach(j => println(f"job ${j.id}%3d ${j.ms}%8.1f ms  ${j.description}"))
    println(f"TOTAL $name: ${leg.sec}%.2f s, ${leg.jobs.size} jobs")
    spark.stop()
  }
}
