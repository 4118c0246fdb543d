package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions injector — THE public extension point
  * (SURVEY.md §7.4):
  *
  *   spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions ...
  *
  * registers the graft SQL functions session-wide (the in-session
  * equivalent is GraftFunctions.register), the ordered-scan Sort
  * elimination rule (see [[graft.sources.EliminateOrderedGraftSort]]:
  * drops the global Sort + range exchange over an `option("ordered",col)`
  * graft scan, which stock Spark cannot because a V2 scan never reports
  * SinglePartition) AND the planner strategy that answers driver-sized
  * reads with no Spark job ([[graft.sources.DriverReads]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (exprs: Seq[Expression]) => RollingHash(exprs.head)))
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSim(exprs.head, exprs(1))))
    ext.injectQueryStagePrepRule(_ => graft.sources.EliminateOrderedGraftSort)
    ext.injectPlannerStrategy(_ => graft.sources.DriverReads)
  }
}
