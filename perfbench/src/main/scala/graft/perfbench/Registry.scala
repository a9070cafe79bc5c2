package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** The 348 query legs of `graft.SparkEntry`, each tagged with the operator
  * module that defines it (the stratum the registry sample draws from).
  */
object Registry {
  type Leg = (SparkSession, String) => DataFrame

  private val modules: Seq[(String, Map[String, Leg])] = Seq(
    "Scans" -> Scans.queries, "Filters" -> Filters.queries,
    "Joins" -> Joins.queries, "Aggregates" -> Aggregates.queries,
    "Windows" -> Windows.queries, "SortSet" -> SortSet.queries,
    "Scalars" -> Scalars.queries, "TextOps" -> TextOps.queries,
    "VectorOps" -> VectorOps.queries, "EventTime" -> EventTime.queries,
    "TextAnalysis" -> TextAnalysis.queries, "NearDup" -> NearDup.queries,
    "Subqueries" -> Subqueries.queries, "PipelineOps" -> PipelineOps.queries,
    "Profiling" -> Profiling.queries, "Clustering" -> Clustering.queries,
    "Graphs" -> Graphs.queries, "Skyline" -> Skyline.queries,
    "Cdc" -> Cdc.queries, "Density" -> Density.queries, "Bpe" -> Bpe.queries,
    "Stats" -> Stats.queries, "TextRank" -> TextRank.queries,
    "Reshape" -> Reshape.queries, "Pii" -> Pii.queries,
    "Behavior" -> Behavior.queries, "Trend" -> Trend.queries,
    "Quality" -> Quality.queries, "TensorGates" -> TensorGates.queries)

  /** Every leg of the registry; a leg no module lists is tagged "other". */
  lazy val legs: Map[String, Leg] = graft.SparkEntry.queries

  lazy val moduleOf: Map[String, String] = {
    val tagged = modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
    legs.keys.map(q => q -> tagged.getOrElse(q, "other")).toMap
  }
}
