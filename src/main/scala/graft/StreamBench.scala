package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamingOps

/** Quantifies the streaming side of the session-window story (SURVEY.md
  * §2.10 / VERDICT r2 stretch item): Q42's batch gaps-and-islands form vs
  * the native `session_window` state-store path over the same events data,
  * with the state-store size pulled from the final StreamingQueryProgress —
  * the number that decides whether a given session workload fits the
  * incremental path at scale.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.StreamBench"
  *
  * Prints one JSON line with the batch reference and one stream leg PER
  * STATE-STORE PROVIDER — the default HDFS-backed in-memory store and
  * RocksDB (the production store for large state: state lives off-heap /
  * on-disk, so capacity is bounded by local disk, not executor heap):
  *   {"batch_sec":…,"providers":{"hdfs":{"stream_sec":…,"state_rows":…,
  *    "state_bytes":…,"batch_equal":…},"rocksdb":{…}},"sessions":…}
  *
  * Each stream run is AvailableNow over a finite copy of the source, so
  * stream_sec includes micro-batch planning + state-store maintenance —
  * the honest incremental-execution cost, not a like-for-like throughput
  * race with the batch plan. RocksDB's memoryUsedBytes covers its
  * block-cache/memtable usage, not bytes-on-disk — compare capacity
  * ceilings, not absolute numbers, across providers.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus(32)
    val spark = Harness.session(cpus, cpus)

    // Batch form, median of 3 fully-materialized runs (Bench protocol).
    def batchRun(): Double = Harness.leg(spark, "q42_batch") {
      operators.EventTime.q42(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    }.orThrow.sec
    batchRun() // warm-up
    val batchSec = (1 to 3).map(_ => batchRun()).sorted.apply(1)

    // Native session_window runs: finite replay, memory sink, state
    // metrics from the last progress — once per state-store provider.
    val src = Files.createTempDirectory("graft-streambench-src").toString
    Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(src, "events.parquet"))
    val batch = operators.EventTime.q42(spark, sfDir).orderBy("user_id").collect()

    def streamLeg(tag: String, providerClass: Option[String]): String = {
      providerClass match {
        case Some(cls) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", cls)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      val name = s"q42_streambench_$tag"
      val t0 = System.nanoTime()
      val q = StreamingOps.q42Stream(StreamingOps.eventsStream(spark, src))
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation",
          Files.createTempDirectory(s"graft-streambench-ckpt-$tag").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(600000)
      val streamSec = (System.nanoTime() - t0) / 1e9
      val stateOps = q.recentProgress.flatMap(_.stateOperators).lastOption
      val stateRows = stateOps.map(_.numRowsTotal).getOrElse(-1L)
      val stateBytes = stateOps.map(_.memoryUsedBytes).getOrElse(-1L)

      // Batch equivalence at this sf (same assertion StreamingSpec makes
      // at sf0.001): per-user session stats from the streamed sessions.
      val streamed = spark.table(name)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          round(avg(col("n_events")), 4).as("avg_events"),
          round(avg(col("dur_us") / 1000000.0), 4).as("avg_dur_s"))
        .orderBy("user_id").collect()
      val equal = streamed.length == batch.length && streamed.zip(batch).forall {
        case (s, b) =>
          s.getLong(0) == b.getLong(0) && s.getLong(1) == b.getLong(1) &&
          math.abs(s.getDouble(2) - b.getDouble(2)) < 1e-6 &&
          math.abs(s.getDouble(3) - b.getDouble(3)) < 1e-6
      }
      f""""$tag":{"stream_sec":$streamSec%.4f,"state_rows":$stateRows,""" +
        s""""state_bytes":$stateBytes,"batch_equal":$equal}"""
    }

    val hdfsLeg = streamLeg("hdfs", None)
    val rocksLeg = streamLeg("rocksdb", Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    val sessions = spark.table("q42_streambench_hdfs").count()

    println(f"""{"batch_sec":$batchSec%.4f,""" +
      s""""providers":{$hdfsLeg,$rocksLeg},""" +
      s""""sessions":$sessions,"sf":"$sfDir"}""")
    spark.stop()
  }
}
