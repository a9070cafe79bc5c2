package graft

/** sf10 dress-rehearsal runner (r10 verdict item 8) — a DEV TOOL. Runs the
  * derived builds plus a hand-picked set of the heaviest scale-safe legs
  * against an [[Sf10Gen]] directory, with a task-metrics listener that
  * reports per-leg wall time, memory/disk SPILL bytes, shuffle write
  * bytes, and peak single-task execution memory — the "where does the
  * first spill appear" measurement SCALE.md's analysis is pinned to.
  *
  * Usage: runMain graft.Sf10Rehearsal [dir=/tmp/graft-sf10] [legs...]
  */
object Sf10Rehearsal {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft-sf10")
    // Shuffle-partition override for wide-output legs (r14): Q198's
    // declared sf10 output is ~1.7G rows, and 64 partitions put ~750 MB
    // under each of 32 concurrent sorts — execution memory fragments
    // (UNABLE_TO_ACQUIRE) before the spill threshold helps. More, smaller
    // partitions are the guide-§2.2 sizing; AQE still coalesces small
    // stages, so light legs are unaffected.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "64").toInt
    val spark = Harness.session(Harness.cpus(32), shufflePartitions)

    def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    val json = new com.fasterxml.jackson.databind.ObjectMapper()

    def leg(name: String)(body: => Unit): Unit = {
      val l = Harness.leg(spark, name)(body)
      l.error match {
        case Some(e) =>
          val row = new java.util.LinkedHashMap[String, String]()
          row.put("leg", name)
          row.put("error", e)
          println(json.writeValueAsString(row))
        case None => println(f"""{"leg":"$name","sec":${l.sec}%.1f,"spill_mem_mb":${
          mb(l.spillMemBytes)},"spill_disk_mb":${mb(l.spillDiskBytes)},"shuffle_write_mb":${
          mb(l.shuffleWriteBytes)},"shuffle_read_mb":${mb(l.shuffleReadBytes)},"peak_task_mem_mb":${
          mb(l.peakTaskMemBytes)}}""")
      }
    }

    // Build legs are selectable by name like query legs. The r11
    // rehearsal measured `neardup_build` EXHAUSTING THE DISK at sf10
    // (exact PPJoin candidate mass → n² on the low-entropy fixture
    // vocabulary); since r12 the adaptive LSH fallback
    // (TextOps.jaccardFromTokens) makes the same leg complete in ~130 s
    // with ~4 GB scratch — see SCALE.md finding 1 (RESOLVED).
    val builds = operators.Derived.buildLegs.toMap
    val buildLegs = operators.Derived.buildLegs.map(_._1)
    val defaultLegs = buildLegs ++ Seq("Q13", "Q05", "Q103", "Q117",
      "Q145", "Q156", "Q160", "Q161", "Q218", "Q248", "Q334", "Q335",
      "Q345")
    // `all` (r11 verdict item 5): the WHOLE registry, one run per leg,
    // builds first, with the known-heaviest wedge-mass legs deferred to
    // the very end so an interrupted sweep still yields full-family
    // coverage. Meant for a 48 GB heap (SPARK_DRIVER_MEM=48g) — Q145's
    // exact enumeration OOMs the 8 GB dev default (SCALE.md finding 3).
    val heavyTail = Seq("Q334", "Q117", "Q103", "Q145")
    val legs =
      if (args.drop(1).toSeq == Seq("all"))
        buildLegs ++
          (SparkEntry.queries.keys.toSeq.sorted.filterNot(heavyTail.contains)
            ++ heavyTail)
      else if (args.length > 1) args.drop(1).toSeq
      else defaultLegs

    legs.foreach {
      case b if builds.contains(b) => leg(b) {
        builds(b).foreach(_.rebuild(spark, dir)) }
      case "fastss_build" => leg("fastss_build") {
        operators.Derived.fastssSignatures(2).rebuild(spark, dir) }
      case q => leg(q) {
        SparkEntry.queries(q)(spark, dir)
          .write.mode("overwrite").format("noop").save()
      }
    }
    spark.stop()
  }
}
