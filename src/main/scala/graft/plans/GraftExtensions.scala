package graft.plans

import graft.functions.VectorFunctions
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Standard `SparkSessionExtensions` integration: makes the engine's
  * native expressions ([[VectorFunctions.all]]) first-class SQL functions
  * in any session built with
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)           // programmatic
  *   // or .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * }}}
  *
  * No custom Rule[LogicalPlan]/SparkStrategy is injected — deliberately:
  * every reference-derived operator maps onto Catalyst's existing plans
  * (SURVEY.md §4.1, §7.3), so the optimizer surface the engine adds is
  * exactly these expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    VectorFunctions.all.foreach(f =>
      e.injectFunction((FunctionIdentifier(f.name), f.info, f.builder)))
}
