package graft

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
}
