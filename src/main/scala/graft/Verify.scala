package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = Harness.cpus(4)
    val spark = Harness.session(cpus, cpus)
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      Harness.leg(spark, name, gc = false) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }.error.foreach { e =>
        failed += name
        System.err.println(s"[verify] $name failed: $e")
      }
    }
    writeOracleJson(outDir)
    System.err.println(s"[verify] n_failed=${failed.size} failed=${failed.mkString("[", ",", "]")}")
    spark.stop()
  }

  /** Dump SparkEntry.oracleSql as oracle_sql.json for the DuckDB compare. */
  def writeOracleJson(outDir: String): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}

/** Writes oracle_sql.json only — no SparkSession, so the DuckDB dtype
  * preflight (scripts/oracle_dtypes.py) can run in seconds before any
  * full Verify sweep. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    new java.io.File(outDir).mkdirs()
    Verify.writeOracleJson(outDir)
  }
}
