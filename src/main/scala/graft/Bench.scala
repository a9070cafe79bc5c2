package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** BENCH harness (BASELINE.md protocol) and the tools' one leg runner:
  * warm-up, 3 timed runs per query, median reported; results fully
  * materialized via the no-op sink (every operator runs, nothing collects
  * to the driver); each artifact build and each tensor leg (CP-ALS,
  * NN-HALS and Tucker on the Q43 tensor) timed once.
  *
  *   SPARK_GRAFT_SF_DIR=<sfDir> sbt "runMain graft.Bench [leg ...]"
  *
  * With no argument it runs every leg. Otherwise each argument names one
  * leg: a query id, a `Derived.buildLegs` name, or `cpals`, `nnhals` or
  * `tucker`; the named legs run in the same sequence as a full run. As
  * each leg finishes, its [[Harness.Leg.row]] is printed (a query's from
  * its median run); then the full JSON line, then the summary line last.
  */
object Bench {
  /** Locale-pinned decimal format: the f interpolator uses the JVM default
    * locale, and a comma-decimal locale would make the bench stdout/
    * BENCH_LAST.json line unparseable JSON (ADVICE r7). */
  private def d(pattern: String, v: Double): String =
    String.format(java.util.Locale.ROOT, pattern, Double.box(v))

  /** One tensor leg's fit: wall seconds, iterations and final fit, plus
    * the fields its row adds (Tucker's Lanczos `fallbacks`). */
  private final case class TensorFit(sec: Double, iters: Int, fit: Double,
      rowFields: Seq[(String, Long)] = Nil)

  /** The CP legs' fit of the Q43 tensor: `cpals` (CP-ALS) or `nnhals`
    * (nonnegative CP via HALS; the Q43 values are sums of nonnegative
    * event values, so the NN model is meaningful here), rank 8, a fixed
    * 10 iterations, one slab per core. */
  private def cpFit(leg: String, coo: DataFrame, cpus: Int): tensor.CPALS.CPModel =
    leg match {
      case "cpals" =>
        tensor.CPALS.fit(coo, rank = 8, seed = 42, tol = 0.0, maxIter = 10, numSlabs = cpus)
      case "nnhals" =>
        tensor.NnHals.fit(coo, rank = 8, seed = 42, tol = 0.0, maxIter = 10, numSlabs = cpus)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tensorLegs = Seq("cpals", "nnhals", "tucker")
    val buildLegs = operators.Derived.buildLegs
    val unknown = args.filterNot(a =>
      SparkEntry.queries.contains(a) || buildLegs.exists(_._1 == a) || tensorLegs.contains(a))
    require(unknown.isEmpty, s"unknown legs ${unknown.mkString(" ")}: a leg is a query id, " +
      s"one of ${buildLegs.map(_._1).mkString(", ")}, or one of ${tensorLegs.mkString(", ")}")
    // The driver passes no args, so its runs always time every leg.
    def selected(leg: String): Boolean = args.isEmpty || args.contains(leg)
    val cpus = Harness.cpus(32)
    def newSession(): SparkSession = Harness.session(cpus, cpus)
    var spark = newSession()

    // Every failed leg (query, build or tensor), once each in order of
    // first failure. A failed leg is left out of the timed sums, so it is
    // published as `n_failed`/`failed` and can never pass for a fast one.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def run[T](leg: String)(body: => T): Harness.Leg[T] = {
      val l = Harness.leg(spark, leg)(body)
      l.error.foreach { e =>
        failed += leg
        System.err.println(s"[bench] $leg failed: $e")
      }
      l
    }
    // A leg's row goes to stdout as the leg finishes, so an interrupted
    // run keeps every row it finished. Warm-ups, recycle heads and
    // sentinels print none.
    def report[T](l: Harness.Leg[T]): Harness.Leg[T] = { println(l.row); l }
    def sec(l: Harness.Leg[_]): Double = if (l.error.isEmpty) l.sec else -1.0

    // Harness.leg drops the caches and checkpoint blocks a run leaves
    // behind, so the 2nd/3rd timed runs of a query can never read cached
    // data (and nothing accumulates across the whole session). Its
    // untimed System.gc() matters here: in a full-registry session a
    // deferred full GC otherwise lands on an arbitrary query and can span
    // all of its timed runs (observed: a 9x one-off on Q98 that
    // re-measured at 1x in the next session and in isolation).
    def materialize(name: String): Harness.Leg[Unit] = run(name) {
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    }
    // A fresh session, primed OUTSIDE any timed region: the first
    // post-recycle query otherwise absorbs the old context's async
    // teardown (executor/block-manager cleanup of 30 queries' state) plus
    // fresh-session catalog/footer setup across ALL THREE of its timed
    // runs — observed as Q145 at 8.66 s full-registry vs 3.07 s dedicated
    // on the same build. One untimed materialization of `head` soaks both
    // before timing starts.
    def recycle(head: String): Unit = {
      Harness.stop(spark)
      spark = newSession()
      materialize(head)
    }

    // Warm-up: JVM/codegen/parquet-footer caches.
    materialize("Q01")

    // Derived artifacts: force a FRESH build of each selected one and time
    // it as its own leg. The consumers (the graph family, the near-dup
    // gates, the daily-grid spine) then bench as pure readers of the
    // bucketed artifacts, and stale /tmp state from a previous run can
    // never flatter the query timings. A subset run rebuilds only the
    // builds it names; its queries get or build the rest through
    // `Derived.Artifact`.
    val builds = buildLegs.filter(b => selected(b._1)).map { case (leg, artifacts) =>
      leg -> sec(report(run(leg)(artifacts.foreach(_.rebuild(spark, sfDir)))))
    }

    val names = SparkEntry.queries.keys.toSeq.sorted.filter(selected)
    // Runs stay back-to-back per query (NOT interleaved across the
    // registry): with >100 codegen units live, interleaving makes every
    // run miss the bounded generated-class cache and re-pay compilation —
    // measured +35% on the whole registry. The session-stall risk that
    // interleaving would have hedged is addressed by the untimed
    // System.gc() in materialize() instead.
    //
    // Session recycling (VERDICT r7 #3): a 155-query x 3-run session
    // accumulates block-manager state (localCheckpoint RDD blocks) and
    // old-gen heap debt that the per-query System.gc() bounds but does
    // not eliminate; late-position graph legs (Q103/Q145) measured up to
    // 3.7x their dedicated-session medians under that pressure. Restart
    // the session every RECYCLE queries (untimed, ~1-2s each) so no leg
    // carries more than a bounded chunk of debt. The JVM-global codegen
    // class cache survives the restart, so back-to-back runs still hit it;
    // the Derived bucketed artifact re-registers from disk in the fresh
    // session (the fresh-session path of Derived.Artifact).
    val RECYCLE = 30
    // The first chunk otherwise times its queries in the SAME session
    // that just ran the two derived builds (~17 s of heavy shuffle/GC
    // debt) — measured as Q103 at 9.35 s full-registry vs a 2.7–4.2 s
    // dedicated median (VERDICT r9 #6, the half of the r8 hygiene item
    // that the chunk recycling didn't cover). Recycle once after the
    // builds so chunk 1 starts as clean as every later chunk.
    if (names.nonEmpty) recycle(names.head)
    // Session-pressure sentinels (VERDICT r11 #4): re-time the same two
    // trivial, unchanged legs (Q01 metadata counts, Q13 TPC-H Q1) at the
    // START, MIDDLE, and END of the full-registry session and publish the
    // three medians. BENCH r10 and r11 both showed 2–6× late-leg
    // inflation in the driver's session that dedicated re-measures did
    // not reproduce; the engine-side hygiene (cache clears, checkpoint
    // unpersist, chunk recycling) is in place, so the remaining drift is
    // machine pressure the engine cannot fix — these make it LEGIBLE: a
    // judge normalizes any suspect leg by the sentinel ratio at its
    // session position (protocol in docs/BENCH_NOTES.md). Mid/end
    // sentinels run immediately AFTER a chunk finishes (before its
    // recycle), where accumulated session debt is at its local maximum.
    //
    // A query's time is the median of its successful runs. Its leg is the
    // median run, or its first failed run if any failed, so that a leg
    // named in `failed` always has a row with its `error`.
    def median3(name: String): (Double, Harness.Leg[Unit]) = {
      val runs = (1 to 3).map(_ => materialize(name))
      val ok = runs.filter(_.error.isEmpty).sortBy(_.sec)
      val median = ok.lift(ok.length / 2)
      (median.fold(-1.0)(_.sec), runs.find(_.error.nonEmpty).orElse(median).get)
    }
    def sentinel(): String =
      Seq("Q01", "Q13").map(q => "\"" + q + "\":" + d("%.3f", median3(q)._1))
        .mkString("{", ",", "}")
    val sentinels = scala.collection.mutable.LinkedHashMap[String, String]()
    val chunks = names.grouped(RECYCLE).toSeq
    if (names.nonEmpty) sentinels("start") = sentinel()
    val results = chunks.zipWithIndex.flatMap { case (chunk, ci) =>
      if (chunk.head != names.head) recycle(chunk.head)
      val timed = chunk.map { name =>
        val (s, l) = median3(name)
        report(l)
        name -> s
      }
      if (ci == (chunks.length - 1) / 2) sentinels("mid") = sentinel()
      if (ci == chunks.length - 1) sentinels("end") = sentinel()
      timed
    }

    // Tensor legs on the Q43 events tensor, one run each. None when not
    // selected or failed.
    def tensorLeg(leg: String)(fit: => TensorFit): Option[TensorFit] =
      if (!selected(leg)) None
      else {
        val l = run(leg)(fit)
        println(l.rowWith(l.result.fold(_ => Nil, _.rowFields): _*))
        l.result.toOption
      }
    def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    // CP-ALS and NN-HALS (see cpFit), timed from after the Q43 tensor's
    // DataFrame is built.
    def cpLeg(leg: String): Option[TensorFit] = tensorLeg(leg) {
      val coo = operators.EventTime.q43(spark, sfDir)
      val t0 = System.nanoTime()
      val m = cpFit(leg, coo, cpus)
      TensorFit(since(t0), m.iterations, m.finalFit)
    }
    val cpals = cpLeg("cpals")
    val nnhals = cpLeg("nnhals")

    // Tucker/HOSVD on the same tensor, one decomposition.
    val tucker = tensorLeg("tucker") {
      val q43 = operators.EventTime.q43(spark, sfDir).selectExpr("i", "j", "k", "v")
      val t0 = System.nanoTime()
      // The query runs once: the rank clamp and the pack read its checkpoint.
      val coo = q43.localCheckpoint()
      // Clamp target ranks to the tier's tensor dims (rank <= dim is
      // Tucker's loud contract; at sf0.001 mode 1 is only 15 wide).
      val dims = coo.selectExpr(
        "cast(max(i) as long)", "cast(max(j) as long)", "cast(max(k) as long)").head()
      val ranks = (
        math.min(16, dims.getLong(0).toInt + 1),
        math.min(4, dims.getLong(1).toInt + 1),
        math.min(16, dims.getLong(2).toInt + 1))
      val m = tensor.Tucker.hosvd(coo, ranks)
      TensorFit(since(t0), 1, m.fit, Seq("fallbacks" -> m.fallbacks.toLong))
    }

    // The driver's bench artifact retains only a ~2000-char stdout tail
    // (with ~85 of that spent on sbt's [success] trailer); the r7 line
    // measured ~1980 chars and still lost its head, leaving parsed:null
    // (VERDICT r7 #8). Stdout therefore prints 2-decimal legs (10ms
    // resolution — inside the box's measured ±6% run-to-run band) AND
    // flattens the tensor legs to their bare headline numbers (~110 chars
    // saved); the repo copy in docs/BENCH_LAST.json keeps 4 decimals and
    // the full tensor objects (iters/fit).
    def headline(t: Option[TensorFit]): String =
      t.fold("-1")(f => d("%.4f", f.sec / f.iters))
    def cpObject(t: Option[TensorFit]): String = t.fold("""{"sec_per_iter":-1}""")(f =>
      s"""{"sec_per_iter":${headline(t)},"iters":${f.iters},"fit":${d("%.6f", f.fit)}}""")
    def tuckerObject(t: Option[TensorFit]): String = t.fold("""{"sec":-1}""")(f =>
      s"""{"sec":${headline(t)},"fit":${d("%.6f", f.fit)}}""")
    val sentinelJson = sentinels
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // All-in total (r14, VERDICT r13 item 5): queries + every build leg +
    // the tensor legs' full wall time — the accounting that cannot be
    // gamed by moving work into an excluded leg. Published NEXT TO the
    // existing `value` (which stays the sum of query legs only, as every
    // prior round's artifact defined it) — additions-only.
    val allIn = total + builds.map(_._2).filter(_ >= 0).sum +
      Seq(cpals, nnhals, tucker).flatten.map(_.sec).sum
    // Each build carries its own leading comma, so a run with no build leg
    // writes no empty field.
    def buildsJson(fmt: Double => String): String =
      builds.map { case (k, v) => ",\"" + k + "\":" + fmt(v) }.mkString
    def line(fmt: Double => String, sf: String, tensorObjects: Boolean): String = {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
      val (cp, nn, tk) =
        if (tensorObjects) (cpObject(cpals), cpObject(nnhals), tuckerObject(tucker))
        else (headline(cpals), headline(nnhals), headline(tucker))
      s"""{"metric":"total","value":${fmt(total)},"value_all_in":${fmt(allIn)},"unit":"sec","queries":$qs,"cpals":$cp,"nnhals":$nn,"tucker":$tk${buildsJson(fmt)},"n_failed":${failed.size},"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"sentinels":$sentinelJson,"sf":"$sf"}"""
    }
    // Stdout form: trailing zeros trimmed ("0.10"→"0.1", "3.00"→"3" —
    // still valid JSON numbers) and sf as its basename; every byte helps
    // the full line survive the collector's bounded tail.
    def compact(v: Double): String =
      if (v < 0) "-1"
      else {
        val s = d("%.2f", v)
        if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse else s
      }
    println(line(compact, sfDir.split('/').last, tensorObjects = false))
    // The registry outgrew the collector's 2000-char tail again (179+ legs
    // ≈ 2,150 chars at 2-decimal compaction vs ~1,915 usable after sbt's
    // trailer), so a truncated head would leave the line unparseable every
    // round. Print a complete SUMMARY line LAST: the tail then carries the
    // end of the full map (most legs) plus this whole line — and since
    // truncation removes the full map's leading '{"metric"' marker, any
    // parser scanning the tail finds exactly one complete JSON object.
    // The authoritative full-precision map stays in docs/BENCH_LAST.json.
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(8)
      .map { case (k, v) => "\"" + k + "\":" + compact(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${compact(total)},"value_all_in":${compact(allIn)},"unit":"sec","n_queries":${results.size},"slowest":$slowest,"cpals":${headline(cpals)},"nnhals":${headline(nnhals)},"tucker":${headline(tucker)}${buildsJson(compact)},"n_failed":${failed.size},"sentinels":$sentinelJson,"queries_map":"docs/BENCH_LAST.json","sf":"${sfDir.split('/').last}"}""")
    // Only a full-registry (driver-shaped) run AT THE DRIVER'S SF may
    // refresh the repo copy — a dev subset would clobber it with a partial
    // map, and a CI sf0.001 sweep would clobber it with the wrong tier's
    // numbers.
    if (args.isEmpty && sfDir.split('/').last == "sf0.1") {
      val full = line(v => if (v < 0) "-1" else d("%.4f", v), sfDir,
        tensorObjects = true) + "\n"
      def save(path: String): Unit =
        try java.nio.file.Files.write(java.nio.file.Paths.get(path), full.getBytes("UTF-8"))
        catch {
          case NonFatal(e) =>
            System.err.println(s"[bench] could not write $path: ${Harness.causeChain(e)}")
        }
      save("docs/BENCH_LAST.json")
      // Per-core archive (r14, VERDICT r13 item 6): the driver re-runs the
      // bench at a lower core count AFTER its main run, which used to
      // clobber BENCH_LAST.json and lose the 32-core per-query map. A
      // core-count-suffixed copy preserves every map of the round.
      save(s"docs/BENCH_LAST_c$cpus.json")
    }
    Harness.stop(spark)
  }
}
