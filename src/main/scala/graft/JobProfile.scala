package graft

/** Dev profiler: run one query to the noop sink and print every Spark
  * job's wall time — the fastest way to see whether a multi-job operator
  * (CC loops, probe-gated builds) is bound by data or by job-launch
  * fixed costs:
  *
  *   sbt "runMain graft.JobProfile /root/testdata/sf0.1 Q117"
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val cpus = Harness.cpus(32)
    val spark = Harness.session(cpus, cpus, logLevel = "ERROR")
    def run(): Harness.Leg[Unit] = Harness.leg(spark, name) {
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    }.orThrow
    // Warm run (codegen/footers), then the measured run.
    run()
    val leg = run()
    leg.jobs.foreach(j => println(f"job ${j.id}%3d ${j.ms}%8.1f ms  ${j.description}"))
    println(f"TOTAL $name: ${leg.sec}%.2f s, ${leg.jobs.size} jobs")
    spark.stop()
  }
}
