package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Table catalog over the driver-generated parquet testdata.
  *
  * Capability mirrored from the reference engine's relational-source layer
  * (reference checkout is empty — see SURVEY.md §0.1; semantics are declared
  * by SURVEY.md §1.2/§1.3 from the verified fixture schemas in FIXTURES.md).
  *
  * Design for scale: tables are plain parquet scans — Catalyst handles
  * predicate pushdown / column pruning / partition pruning; nothing is
  * cached or collected here. At 100 TB the same code path works because
  * every downstream operator declares its plan against these scans.
  */
final class Catalog(val spark: SparkSession, val dir: String) {
  // Legacy-tolerant events read: the 2026-08-12 testdata regen changed
  // events.ts from parquet INT64 TIMESTAMP(NANOS) to timestamp[us]
  // (SURVEY.md §1.3 addendum). nanosAsLong keeps the legacy ns files
  // readable (as LongType); normalizeTs below maps either physical type to
  // the engine convention: epoch-ns LongType, epoch-µs via `ts div 1000`.
  spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  // The ns convention is UTC-anchored; the NTZ→instant cast in normalizeTs
  // is only the identity on the stored micros under a UTC session.
  spark.conf.set("spark.sql.session.timeZone", "UTC")
  // The engine's SQL functions (GraftExtensions' one table, with their
  // usage text), the as-of join strategy and the dot-product rewrite. The
  // driver harness owns the session builder, so registration happens at
  // runtime here; deployments that own the builder use
  // spark.sql.extensions=graft.plans.GraftExtensions, which reads the
  // same table.
  graft.plans.GraftExtensions.registerRuntime(spark)

  def table(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")
  def events: DataFrame     = Catalog.normalizeTs(table("events"))
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** Register all tables as temp views for SQL entry (SURVEY §3.2 E2).
    * `events` is registered in its normalized (`ts` = epoch-ns LongType)
    * form so SQL sites share the `ts DIV 1000` convention with the API.
    */
  def register(): Unit =
    Catalog.tableNames.foreach { t =>
      val df = if (t == "events") events else table(t)
      df.createOrReplaceTempView(t)
    }
}

object Catalog {
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String): Catalog = new Catalog(spark, dir)

  /** Normalize an events frame's `ts` to epoch-nanoseconds LongType
    * regardless of the on-disk physical type:
    *   - legacy INT64 TIMESTAMP(NANOS) read under nanosAsLong → already
    *     LongType epoch-ns, passthrough;
    *   - timestamp[us] (TIMESTAMP_NTZ since the 2026-08-12 regen) → cast to
    *     an instant (identity on the stored micros under the UTC session
    *     set in the Catalog constructor) and widen µs → ns.
    * Downstream operators keep their single `ts DIV 1000` epoch-µs
    * convention, matching the DuckDB oracles' `epoch_us(ts)`.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df
      case _ =>
        // The NTZ→instant cast reads the session timezone at EXECUTION
        // time; it is the identity on the stored micros only under UTC.
        // Callers inside graft always run UTC sessions, but an external
        // caller on a non-UTC session would silently get shifted epoch-ns
        // values — pin the conf here too (ADVICE r7).
        df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
    }
}
