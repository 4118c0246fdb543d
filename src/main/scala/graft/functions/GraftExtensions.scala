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
  * equivalent is GraftFunctions.register) and two planner strategies:
  * [[graft.sources.DriverReads]] answers driver-sized reads with no Spark
  * job, and [[graft.sources.OrderedReads]] plans an engaged
  * `option("ordered", col)` scan as one node reporting `SinglePartition`
  * and its `SortOrder`, so Spark's own rules drop a matching global Sort
  * with no exchange (a V2 batch scan never reports `SinglePartition`).
  * Without the extension an ordered read is a plain parallel scan under
  * an exact Sort.
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
    ext.injectPlannerStrategy(_ => graft.sources.DriverReads)
    ext.injectPlannerStrategy(_ => graft.sources.OrderedReads)
  }
}
