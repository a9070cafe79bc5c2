package graft

import java.util.Locale
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.functions.col

/** The tools' leg runner: failure capture, per-leg hygiene and per-leg
  * counters. */
class HarnessSpec extends SparkSpec {

  test("a failed leg reports the whole cause chain, outer and inner class") {
    val leg = Harness.leg(spark, "boom") {
      throw new RuntimeException("wrapper",
        new IllegalStateException("root cause"))
    }
    val err = leg.error.getOrElse(fail("the leg should have failed"))
    assert(err.contains("java.lang.RuntimeException: wrapper"))
    assert(err.contains("java.lang.IllegalStateException: root cause"))
    assert(leg.result.isLeft)
  }

  test("a leg leaves no cached relation and no new persisted RDD behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val leg = Harness.leg(spark, "persist") {
      spark.range(100).toDF("x").cache().count()
      spark.range(50).toDF("y").localCheckpoint()
      spark.sparkContext.getPersistentRDDs.size
    }
    assert(leg.error.isEmpty)
    assert(leg.result.toOption.get >= before.size + 2,
      "the body should have persisted a cache and a checkpoint")
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("counters cover one leg only: a shuffle leg, then a shuffle-free one") {
    val shuffle = Harness.leg(spark, "shuffle") {
      spark.range(1000).groupBy(col("id") % 7).count().collect()
    }
    // Not `range(10).count()`: its global aggregate shuffles the partial
    // counts through a single-partition exchange.
    val plain = Harness.leg(spark, "plain") { spark.range(10).collect().length }
    assert(shuffle.shuffleWriteBytes > 0)
    assert(shuffle.jobs.nonEmpty && shuffle.tasks > 0)
    assert(shuffle.executorCpuNs > 0)
    assert(plain.result == Right(10))
    assert(plain.shuffleWriteBytes == 0)
  }

  test("a throw in the cleanup fails the leg, but never hides the body's") {
    // An RDD whose first unpersist throws, as the cleanup does once a body
    // has killed the context.
    class Sticky extends RDD[Int](spark.sparkContext, Nil) {
      private var armed = true
      override def compute(p: Partition, c: TaskContext): Iterator[Int] = Iterator.empty
      override protected def getPartitions: Array[Partition] = Array.empty
      override def unpersist(blocking: Boolean): this.type =
        if (armed) { armed = false; throw new IllegalStateException("cleanup failed") }
        else super.unpersist(blocking)
    }
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val quiet, loud = new Sticky
    val cleanup = Harness.leg(spark, "cleanup") { quiet.persist(); 1 }
    val both = Harness.leg(spark, "both") {
      loud.persist()
      throw new ArithmeticException("body failed")
    }
    quiet.unpersist(); loud.unpersist()
    assert(cleanup.error.exists(_.contains("java.lang.IllegalStateException: cleanup failed")))
    assert(both.error.exists(_.contains("java.lang.ArithmeticException: body failed")))
    assert(!both.error.exists(_.contains("cleanup failed")))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  private val rowKeys = Seq("leg", "sec", "spill_mem_mb", "spill_disk_mb", "shuffle_write_mb",
    "shuffle_read_mb", "peak_task_mem_mb", "tasks", "executor_cpu_s", "gc_s", "jobs")

  /** `body` under the default locale, then under `Locale.GERMANY` (a
    * comma-decimal locale), restoring the default afterwards. */
  private def inBothLocales(body: String => Unit): Unit = {
    val default = Locale.getDefault
    body(default.toString)
    try { Locale.setDefault(Locale.GERMANY); body("de_DE") }
    finally Locale.setDefault(default)
  }

  private def parse(row: String): JsonNode = new ObjectMapper().readTree(row)

  test("a leg's row is one JSON object with every counter, in any locale") {
    inBothLocales { locale =>
      val leg = Harness.leg(spark, "rows") {
        spark.range(1000).groupBy(col("id") % 7).count().collect()
      }
      val row = parse(leg.row)
      assert(row.fieldNames.asScala.toSeq == rowKeys, locale)
      assert(row.get("leg").asText == "rows" && !row.has("error"), locale)
      val jobs = row.get("jobs").elements.asScala.toSeq
      assert(jobs.nonEmpty && jobs.size == leg.jobs.size, locale)
      jobs.zip(leg.jobs).foreach { case (j, l) =>
        assert(j.get("id").asInt == l.id && j.get("description").asText == l.description, locale)
      }
    }
  }

  test("a failed leg's row holds the whole cause chain, quotes and newlines included") {
    inBothLocales { locale =>
      val leg = Harness.leg(spark, "fails") {
        throw new RuntimeException("outer \"quoted\"\nsecond line",
          new IllegalStateException("inner\r\ttab"))
      }
      val row = parse(leg.row)
      assert(row.fieldNames.asScala.toSeq == rowKeys :+ "error", locale)
      assert(row.get("error").asText == leg.error.get, locale)
      assert(row.get("error").asText.contains("IllegalStateException: inner\r\ttab"), locale)
    }
  }

  test("every number of a row reads back as the same number under Locale.GERMANY") {
    val leg = Harness.Leg[Unit]("numbers", 1234.56789, Right(()),
      Seq(Harness.Job(3, 1.5, "a job"), Harness.Job(4, 0.0004, "")), tasks = 12345678L,
      shuffleReadBytes = 3L << 20, shuffleWriteBytes = 5L << 19, spillMemBytes = 0L,
      spillDiskBytes = 1L << 30, peakTaskMemBytes = 7L << 20, executorCpuNs = 2500000000L,
      gcMs = 1234L)
    val expected = Seq("sec" -> 1234.568, "shuffle_read_mb" -> 3.0, "shuffle_write_mb" -> 2.5,
      "spill_mem_mb" -> 0.0, "spill_disk_mb" -> 1024.0, "peak_task_mem_mb" -> 7.0,
      "tasks" -> 12345678.0, "executor_cpu_s" -> 2.5, "gc_s" -> 1.234)
    val rows = scala.collection.mutable.ArrayBuffer[String]()
    inBothLocales { locale =>
      rows += leg.row
      val row = parse(rows.last)
      expected.foreach { case (k, v) => assert(row.get(k).asDouble == v, s"$k under $locale") }
      val jobs = row.get("jobs").elements.asScala.toSeq
      assert(jobs.map(_.get("ms").asDouble) == Seq(1.5, 0.0), locale)
    }
    assert(rows.distinct.size == 1, rows)
  }
}
