package graft

import scala.util.Try

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import graft.functions.SketchAggregate
import graft.plans.{AsOfJoinStrategy, GraftExtensions, RewriteDotProduct}

/** The one table of SQL functions: what `registerRuntime` makes of it,
  * and the sketch aggregates' names.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("registerRuntime: every table name resolves with its usage; a second call adds no second strategy or rule") {
    GraftExtensions.registerRuntime(spark)
    GraftExtensions.registerRuntime(spark)
    val names = GraftExtensions.functions.map(_._1)
    assert(names.size == 35 && names.distinct.size == 35, names)
    for ((name, usage, _) <- GraftExtensions.functions) {
      assert(spark.catalog.functionExists(name), name)
      val rows = spark.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0))
      assert(rows.contains(s"Usage: ${usage.replace("_FUNC_", name)}"), rows.mkString("\n"))
    }
    assert(spark.experimental.extraStrategies.count(_ == AsOfJoinStrategy) == 1)
    assert(spark.experimental.extraOptimizations.count(_ == RewriteDotProduct) == 1)
  }

  test("each sketch aggregate's SQL name is its table entry's name") {
    val args = Seq.fill(3)(Literal(16))
    val built = GraftExtensions.functions.flatMap { case (name, _, build) =>
      Try(build(name, args)).toOption.collect {
        case e: AggregateExpression if e.aggregateFunction.isInstanceOf[SketchAggregate[_]] =>
          name -> e.aggregateFunction.prettyName
      }
    }
    assert(built.size == 10, built)
    built.foreach { case (name, pretty) => assert(pretty == name) }
  }
}
