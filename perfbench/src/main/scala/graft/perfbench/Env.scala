package graft.perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** One benchmark session: `local[cpus]` with every location Spark or the
  * engine writes to — derived artifacts, the warehouse, spill and temp
  * files — under the run's own scratch root, so no state survives from
  * one run to the next.
  */
object Env {
  def session(scratch: File, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.derivedDir", new File(scratch, "derived").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(scratch, "local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
