package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.{GraftListenerBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The tools' one way to a SparkSession and to a measured leg.
  *
  * [[session]] builds every tool's session with the shared settings and
  * registers one listener on its context; [[leg]] runs a body between the
  * per-leg hygiene steps and returns its wall time, its failure (if any)
  * and the listener's counters for the body alone.
  */
object Harness {
  /** `SPARK_GRAFT_CPUS`, or the calling tool's own default. */
  def cpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** A `local[cpus]` session in UTC with the UI off, the given shuffle
    * partition count and log level, and the counting listener attached. */
  def session(cpus: Int, shufflePartitions: Int, logLevel: String = "WARN"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    meter(s.sparkContext)
    s
  }

  /** Stop the session and forget it as the active and default session, so
    * the next [[session]] call builds a fresh context. */
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** `Class: message <- Class: message ...` over the whole cause chain: a
    * Spark failure's outermost exception is usually a wrapper whose
    * message hides the cause. Bounded, in case a chain loops. */
  def causeChain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString(" <- ")

  /** One Spark job of a leg, in order of completion. */
  final case class Job(id: Int, ms: Double, description: String)

  /** One leg: its wall time, its value or the throwable it raised, and the
    * counters of the jobs and tasks that ran inside it. `executorCpuNs`
    * sums the tasks' `executorCpuTime`; `gcMs` is the driver JVM's
    * collection time over the timed body (in `local[N]` the tasks run in
    * that JVM, and a per-task `jvmGCTime` sum would count one pause once
    * per task running across it). A job's `description` is its
    * `spark.job.description`; else, for a job of a SQL execution, the
    * execution's description (the query's call site) and the plan
    * operator that ran the job, `collect at Q.scala:12 (BroadcastExchange)`;
    * else its result stage's name (the call site, `<method> at
    * <File>.scala:<line>`). */
  final case class Leg[T](name: String, sec: Double, result: Either[Throwable, T],
      jobs: Seq[Job], tasks: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      spillMemBytes: Long, spillDiskBytes: Long, peakTaskMemBytes: Long,
      executorCpuNs: Long, gcMs: Long) {
    def error: Option[String] = result.left.toOption.map(causeChain)
    /** This leg, or the throwable its body raised. */
    def orThrow: Leg[T] = result.fold(e => throw e, _ => this)

    /** This leg as one JSON line: `leg`, `sec`, `spill_mem_mb`,
      * `spill_disk_mb`, `shuffle_write_mb`, `shuffle_read_mb`,
      * `peak_task_mem_mb`, `tasks`, `executor_cpu_s`, `gc_s` and `jobs`
      * (`id`, `ms`, `description`), plus `error` (the cause chain) for a
      * failed leg, then `extra`'s fields. Numbers are rounded to 3
      * decimals. Jackson does the escaping and the number format, so
      * neither depends on the locale. */
    def row: String = rowWith()
    def rowWith(extra: (String, Long)*): String = {
      def r(x: Double): Double = math.round(x * 1000) / 1000.0
      def mb(bytes: Long): Double = r(bytes / 1048576.0)
      val o = rowMapper.createObjectNode()
        .put("leg", name).put("sec", r(sec))
        .put("spill_mem_mb", mb(spillMemBytes)).put("spill_disk_mb", mb(spillDiskBytes))
        .put("shuffle_write_mb", mb(shuffleWriteBytes)).put("shuffle_read_mb", mb(shuffleReadBytes))
        .put("peak_task_mem_mb", mb(peakTaskMemBytes)).put("tasks", tasks)
        .put("executor_cpu_s", r(executorCpuNs / 1e9)).put("gc_s", r(gcMs / 1e3))
      val js = o.putArray("jobs")
      jobs.foreach(j => js.addObject().put("id", j.id).put("ms", r(j.ms)).put("description", j.description))
      error.foreach(e => o.put("error", e))
      extra.foreach { case (k, v) => o.put(k, v) }
      rowMapper.writeValueAsString(o)
    }
  }

  private val rowMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Run `body` as one leg. Before it, unless `gc` is off: an untimed
    * `System.gc()`, so a deferred collection of earlier legs' garbage
    * cannot land inside the timed region. A caller that times nothing,
    * like Verify, turns it off: one collection per query made Verify's
    * sf0.01 sweep 39% slower on a 4-core box. After it: every cached
    * relation is dropped and every RDD the body persisted is unpersisted
    * — `clearCache` does not cover `localCheckpoint` blocks, which would
    * otherwise pile up in the block manager over a long session. A throw
    * is captured, not rethrown, whether the body or a step around it
    * raised it (the listener drain times out after 10 s; `clearCache`
    * throws once the body has killed the context); the body's own throw
    * wins. */
  def leg[T](spark: SparkSession, name: String, gc: Boolean = true)(body: => T): Leg[T] = {
    val sc = spark.sparkContext
    val m = meter(sc)
    if (gc) System.gc()
    val before = sc.getPersistentRDDs.keySet
    val setup = attempt(GraftListenerBus.drain(sc))
    m.reset()
    val gc0 = gcMillis()
    val t0 = System.nanoTime()
    val run = attempt(body)
    val sec = (System.nanoTime() - t0) / 1e9
    val gcMs = gcMillis() - gc0
    val cleanup = attempt {
      GraftListenerBus.drain(sc)
      spark.catalog.clearCache()
      sc.getPersistentRDDs
        .filterNot { case (id, _) => before.contains(id) }
        .values.foreach(_.unpersist(blocking = false))
    }
    m.leg(name, sec, gcMs, for (v <- run; _ <- setup; _ <- cleanup) yield v)
  }

  /** The collection time this JVM's collectors report so far, in ms. */
  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  private def attempt[A](a: => A): Either[Throwable, A] =
    try Right(a) catch { case e: Throwable => Left(e) }

  private var current: Option[(SparkContext, Meter)] = None

  /** The listener of `sc`, registered on first use. */
  private def meter(sc: SparkContext): Meter = synchronized {
    current.collect { case (c, m) if c eq sc => m }.getOrElse {
      val m = new Meter
      sc.addSparkListener(m)
      current = Some(sc -> m)
      m
    }
  }

  /** Job wall times and task counters since the last `reset`. */
  private final class Meter extends SparkListener {
    private val starts = mutable.Map[Int, (Long, String)]()
    /** The description of each running SQL execution, by execution id. */
    private val sqlExecutions = mutable.Map[Long, String]()
    private val jobs = mutable.ArrayBuffer[Job]()
    private var tasks, shuffleRead, shuffleWrite, spillMem, spillDisk, peakTaskMem, cpuNs = 0L

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => sqlExecutions(s.executionId) = s.description
        case s: SparkListenerSQLExecutionEnd => sqlExecutions.remove(s.executionId)
        case _ =>
      }
    }

    /** A SQL execution submits most of its jobs from Spark's pool threads
      * (the broadcast exchange, adaptive query stages, the write), so
      * their result stage's call site is `... at
      * CompletableFuture.java:<line>`. Such a job is named by its
      * execution's description (the query's call site) and by the plan
      * operator that ran it (its RDD scope, such as `BroadcastExchange`),
      * where it has one. */
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(key: String): Option[String] =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).filter(_.nonEmpty)
      val site = e.stageInfos.maxByOption(_.stageId).map(_.name)
      val operator = prop("spark.rdd.scope")
        .flatMap(json => scala.util.Try(rowMapper.readTree(json).path("name").asText("")).toOption)
        .filter(_.nonEmpty)
      val sql = prop("spark.sql.execution.id").flatMap(_.toLongOption).flatMap(sqlExecutions.get)
        .map(query => query + operator.fold("")(op => s" ($op)"))
      val desc = prop("spark.job.description").orElse(sql).orElse(site).getOrElse("")
      starts(e.jobId) = (System.nanoTime(), desc)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      starts.remove(e.jobId).foreach { case (t0, desc) =>
        jobs += Job(e.jobId, (System.nanoTime() - t0) / 1e6, desc)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spillMem += m.memoryBytesSpilled
        spillDisk += m.diskBytesSpilled
        peakTaskMem = math.max(peakTaskMem, m.peakExecutionMemory)
        cpuNs += m.executorCpuTime
      }
    }

    def reset(): Unit = synchronized {
      starts.clear(); jobs.clear()
      tasks = 0; shuffleRead = 0; shuffleWrite = 0; spillMem = 0; spillDisk = 0; peakTaskMem = 0
      cpuNs = 0
    }

    def leg[T](name: String, sec: Double, gcMs: Long, result: Either[Throwable, T]): Leg[T] = synchronized {
      Leg(name, sec, result, jobs.toList, tasks, shuffleRead, shuffleWrite,
        spillMem, spillDisk, peakTaskMem, cpuNs, gcMs)
    }
  }
}
