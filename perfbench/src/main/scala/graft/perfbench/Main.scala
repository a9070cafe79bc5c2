package graft.perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.Derived
import graft.tensor.{CPALS, NnHals, Tucker}

/** One operation the run attempted: a leg, an artifact build or a fit.
  * `facts` holds what the output check needs (fingerprint, fit, ...).
  */
final case class Op(kind: String, name: String, stage: String, span: Int,
    wallS: Double, error: Option[String], facts: Map[String, Any])

/** Runs one workload in this JVM and writes its raw record — every
  * operation with its wall time, output facts and full error chain, plus
  * spans, jobs and stages when traced — as JSON. `run.py` checks the
  * outputs and derives the metrics from this record.
  *
  * Arguments: workload seed seconds trace(0|1) dataDir scratchDir outFile
  * [forceFailure(0|1)].
  */
object Main {
  val Cpus = 4
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, sf, scratchS, outS) = args.take(7)
    val forceFailure = args.lift(7).contains("1")
    val seed = seedS.toLong
    val scratch = new File(scratchS)
    val spark = Env.session(scratch, Cpus)
    val sc = spark.sparkContext
    val tr = new Tracer(traceS == "1", sc)
    val meter = new Meter
    if (tr.on) {
      sc.addSparkListener(meter)
      spark.listenerManager.register(meter)
    }
    val ops = ArrayBuffer[Op]()
    var stage = "setup"

    def op(kind: String, name: String)(f: => Map[String, Any]): Unit = {
      val t0 = System.nanoTime()
      var id = -1
      val res =
        try Right(tr.span("operation", s"$kind:$name") { id = tr.current; f })
        catch { case NonFatal(e) => Left(Main.chain(e)) }
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[perfbench] $stage $kind $name $wall%.3f s" + res.left.map(e => s" FAILED:\n$e").left.getOrElse(""))
      ops += Op(kind, name, stage, id, wall, res.left.toOption, res.getOrElse(Map.empty))
    }

    var deadline = 0L
    val started = tr.nowMs
    var setupEndMs = 0.0
    tr.span("workload", workload) {
      workload match {
        case "registry" =>
          // The sample run.py drew, or every leg when there is none, and
          // the legs that warm the JVM up during set-up.
          def legList(name: String): Option[Vector[String]] = {
            val f = new File(scratch, name)
            if (!f.exists) None
            else Some(scala.io.Source.fromFile(f).getLines().map(_.trim).filter(_.nonEmpty).toVector)
          }
          val legs = legList("legs.txt").getOrElse(Registry.legs.keys.toVector.sorted)
          val warmup = legList("warmup.txt").getOrElse(Vector.empty)
          // The only artifact rebuilt: the daily-cents grid, read by 37
          // legs. Rebuilding the co-order pairs, near-dup clusters, LPA
          // labels and triangle counts takes 40-60 s in a fresh JVM on 4
          // cores, more than a run's budget, so the legs that read those
          // are left out of the sample (record.py).
          op("build", "daily_grid") {
            val df = tr.span("phase", "rebuild")(Derived.rebuildDailyCentsGrid(spark, sf))
            val fp = tr.span("phase", "check")(Fingerprint.of(df))
            Map("rows" -> fp.rows, "hash" -> fp.hash,
              "disk_bytes" -> Main.diskBytes(new File(scratch, "derived"), "daily_grid_"))
          }
          // Cold, a leg pays much of the JVM's own warm-up (JIT, class
          // loading), which swings with the machine's load; a few fixed
          // legs outside the sample take that part off the measured ones.
          for (q <- warmup) { op("leg", q)(runLeg(spark, tr, q, sf)); Main.hygiene(spark) }
          setupEndMs = tr.nowMs
          stage = "measure"
          deadline = System.nanoTime() + (secondsS.toDouble * 1e9).toLong
          if (forceFailure) op("leg", "forced_failure")(Main.forcedFailure(spark))
          var n = 0
          while (n < legs.length || System.nanoTime() < deadline) {
            val q = legs(n % legs.length)
            op("leg", q)(runLeg(spark, tr, q, sf))
            Main.hygiene(spark)
            n += 1
          }
        case "tensors" =>
          val q43 = graft.operators.EventTime.q43(spark, sf).localCheckpoint()
          val nnzQ43 = q43.count()
          val coo = q43.selectExpr("i", "j", "k", "v")
          val skew = SkewTensor(SkewRank, SkewRowsPerBlock, SkewSide, seed)
          var packed: CPALS.PackedTensor = null
          op("pack", "skew") {
            packed = tr.span("phase", "pack")(CPALS.pack(skew.rdd(sc, 4 * Cpus), SkewRank, Cpus))
            val slabs = packed.slabRdd.map(_.vs.length.toLong).collect().toSeq
            // What the partitioner's fallback rule, slice i to slab i % n,
            // would give: the naive assignment LPT balancing is measured against.
            val hashed = new Array[Long](Cpus)
            skew.sliceNnz.zipWithIndex.foreach { case (w, i) => hashed(i % Cpus) += w }
            Map("nnz" -> skew.nnz, "slab_nnz" -> slabs, "hash_slab_nnz" -> hashed.toSeq,
              "q43_nnz" -> nnzQ43)
          }
          // Warm-up of the fit loops (JIT), part of set-up.
          CPALS.fitPacked(packed, SkewRank, seed, 0.0, 2)
          setupEndMs = tr.nowMs
          stage = "measure"
          deadline = System.nanoTime() + (secondsS.toDouble * 1e9).toLong
          if (forceFailure) op("fit", "forced_failure")(Main.forcedFailure(spark))
          do {
            op("fit", "cpals") {
              val rows = coo.select(col("i").cast("long"), col("j").cast("long"),
                col("k").cast("long"), col("v").cast("double"))
                .rdd.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
              val p = tr.span("phase", "pack")(CPALS.pack(rows, 8, Cpus))
              val m = try tr.span("phase", "iterate")(CPALS.fitPacked(p, 8, 42L, 0.0, 10))
                finally p.unpersist()
              Map("iterations" -> m.iterations, "fit" -> m.finalFit)
            }
            op("fit", "nnhals") {
              val m = tr.span("phase", "iterate")(
                NnHals.fit(coo, rank = 8, seed = 42, tol = 0.0, maxIter = NnHalsIters, numSlabs = Cpus))
              Map("iterations" -> m.iterations, "fit" -> m.finalFit)
            }
            op("fit", "tucker") {
              val m = tr.span("phase", "decompose")(Tucker.hosvd(coo, (16, 4, 16)))
              Map("fit" -> m.fit)
            }
            op("fit", "skew_cpals") {
              // A fixed number of iterations per start (no convergence
              // test). Plain ALS from one random start can stall in a swamp
              // on a planted tensor; restart from the next seed until the
              // fit recovers the planted model, as CPALS.fitBest does.
              val fits = ArrayBuffer[Double](); var iters = 0; var s = 0
              while (s < SkewStarts && (fits.isEmpty || fits.max < SkewFitFloor)) {
                val m = tr.span("phase", "iterate")(CPALS.fitPacked(
                  packed, SkewRank, seed * 1000 + s, Double.NegativeInfinity, SkewIters))
                fits += m.finalFit; iters += m.iterations; s += 1
              }
              Map("iterations" -> iters, "starts" -> s, "fit" -> fits.max, "max_iter" -> SkewIters)
            }
          } while (System.nanoTime() < deadline)
          packed.unpersist()
        case other => sys.error(s"unknown workload $other")
      }
    }
    val endMs = tr.nowMs
    org.apache.spark.PerfbenchBus.drain(sc)
    val rec = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> tr.on,
      "start_ms" -> started, "setup_end_ms" -> setupEndMs, "end_ms" -> endMs,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "name" -> o.name, "stage" -> o.stage,
        "span" -> o.span, "wall_s" -> o.wallS, "error" -> o.error.orNull, "facts" -> o.facts)),
      "jvm" -> Main.jvmStats()) ++ (if (!tr.on) Map.empty else Map(
      "spans" -> tr.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start" -> s.start, "end" -> s.end)),
      "jobs" -> meter.jobs.map(j => Map("id" -> j.id, "span" -> j.span, "start" -> j.start,
        "end" -> j.end, "stages" -> j.stages, "failed" -> j.failed)),
      "stages" -> Main.stageSummaries(meter),
      "plan_phases" -> meter.planPhases.map { case (n, s, e) => Map("phase" -> n, "start" -> s, "end" -> e) },
      "scans" -> meter.scans.map(s => Map("at" -> s.at, "bytes" -> s.bytes, "rows" -> s.rows))))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(new File(outS), rec)
    Env.stop(spark)
  }

  // Tensor workload shape.
  val NnHalsIters = 30
  val SkewRank = 8
  val SkewRowsPerBlock = 2
  val SkewSide = 800
  val SkewIters = 30
  val SkewStarts = 10
  val SkewFitFloor = 0.99

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** One registry leg: build the DataFrame (eager probes run here), then
    * run it into the noop sink while an observation fingerprints every
    * output row in the same pass.
    */
  def runLeg(spark: SparkSession, tr: Tracer, q: String, sf: String): Map[String, Any] = {
    val df = tr.span("phase", "construct")(Registry.legs(q)(spark, sf))
    val obs = Observation(s"fp_$q")
    val (n, h) = Fingerprint.columns(df)
    tr.span("phase", "execute")(noop(df.observe(obs, n, h)))
    val fp = Fingerprint.fromRow(obs.get)
    // Analysis ran when the DataFrame was built; the write's own query
    // execution (seen by the Meter) plans and runs it.
    val analysis = df.queryExecution.tracker.phases.get("analysis")
      .map(p => Seq(p.startTimeMs, p.endTimeMs)).getOrElse(Nil)
    Map("rows" -> fp.rows, "hash" -> fp.hash, "module" -> Registry.moduleOf(q),
      "analysis_ms" -> analysis)
  }

  /** Between legs, untimed: drop cached relations and the checkpoint
    * blocks the leg left behind, and collect its garbage, so no leg pays
    * for its predecessor.
    */
  private var knownRdds = Set.empty[Int]
  def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    val live = spark.sparkContext.getPersistentRDDs
    live.filterNot { case (id, _) => knownRdds.contains(id) }.values
      .foreach(_.unpersist(blocking = false))
    knownRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    System.gc()
  }

  /** A failing operation for the failure-accounting self-check: a task
    * throws, with a cause, inside a Spark job.
    */
  def forcedFailure(spark: SparkSession): Map[String, Any] = {
    spark.sparkContext.parallelize(Seq(1), 1).map { x =>
      throw new IllegalStateException("forced failure (self-check)",
        new ArithmeticException(s"root cause of the forced failure: $x / 0"))
    }.collect()
    Map.empty
  }

  /** The whole cause chain, each link with its class and full message,
    * then the root cause's stack trace. Nothing is truncated.
    */
  def chain(e: Throwable): String = {
    val links = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(64).toSeq
    val sw = new java.io.StringWriter
    links.last.printStackTrace(new java.io.PrintWriter(sw))
    links.zipWithIndex.map { case (t, i) => s"${"  " * i}caused by ${t.getClass.getName}: ${t.getMessage}" }
      .mkString("\n") + "\nroot cause stack:\n" + sw.toString
  }

  /** Bytes the files under `dir` whose names start with `prefix` occupy. */
  def diskBytes(dir: File, prefix: String): Long = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(size).sum else f.length
    Option(dir.listFiles).toSeq.flatten.filter(_.getName.startsWith(prefix)).map(size).sum
  }

  def jvmStats(): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    val heapPeak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    Map("heap_peak_bytes" -> heapPeak, "gc_ms" -> gcMs)
  }

  /** Per-stage task totals, plus the max and median task run time. */
  def stageSummaries(m: Meter): Seq[Map[String, Any]] = m.synchronized {
    m.tasks.groupBy(_.stage).toSeq.sortBy(_._1).map { case (st, ts) =>
      val run = ts.map(_.runMs).sorted
      Map("id" -> st, "tasks" -> ts.length, "run_ms" -> run.sum,
        "max_run_ms" -> run.last, "median_run_ms" -> run(run.length / 2),
        "cpu_ns" -> ts.map(_.cpuNs).sum, "gc_ms" -> ts.map(_.gcMs).sum,
        "shuffle_write" -> ts.map(_.shuffleWrite).sum, "shuffle_read" -> ts.map(_.shuffleRead).sum,
        "spill_mem" -> ts.map(_.spillMem).sum, "spill_disk" -> ts.map(_.spillDisk).sum,
        "peak_mem" -> ts.map(_.peakMem).max, "failed_tasks" -> ts.count(_.failed))
    }
  }
}
