package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BasePredicate, BindReferences, Expression,
  Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.{ConstantFolding, OptimizeIn}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType

/** Builds DataFrames and predicates straight from catalyst rows and
  * expressions. Spark keeps `internalCreateDataFrame`, `Dataset.ofRows` and
  * the Column-to-expression conversion package-private; this object lives
  * in an `org.apache.spark.sql` subpackage only to reach them.
  */
object InternalRows {
  def toDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** A driver-local frame over `rows` (a LocalRelation: collecting it, or
    * a projection or limit of it, runs no Spark job).
    */
  def local(spark: SparkSession, rows: Seq[InternalRow], schema: StructType): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** When `df`'s optimized plan is a LocalRelation — rows already on the
    * driver — of at most `maxRows` rows and `maxBytes` bytes, its rows cut
    * into the partitions a job over it sees: the slices `LocalTableScanExec`
    * makes. None for any other plan, or a larger one.
    */
  def localPartitions(df: DataFrame, maxRows: Long,
      maxBytes: Long): Option[Seq[Array[UnsafeRow]]] = df.queryExecution.optimizedPlan match {
    case r: LocalRelation if r.data.length <= maxRows =>
      val proj = UnsafeProjection.create(r.schema)
      val rows = r.data.iterator.map(proj(_).copy()).toArray
      if (rows.iterator.map(_.getSizeInBytes.toLong).sum > maxBytes) None
      else {
        // no rows, no partition, as an empty LocalTableScanExec
        val n = math.min(rows.length,
          df.sparkSession.asInstanceOf[classic.SparkSession].leafNodeDefaultParallelism)
        // ParallelCollectionRDD.slice's positions
        Some((0 until n).map(i => rows.slice((i.toLong * rows.length / n).toInt,
          ((i + 1L) * rows.length / n).toInt)))
      }
    case _ => None
  }

  /** `cond` over rows of `schema`, resolved by the session's analyzer (so
    * literal coercion is Spark's own) and bound for interpreted evaluation
    * — without building a Dataset, whose checks and bookkeeping cost more.
    * The coerced literals are folded and a long IN-list becomes a hash-set
    * lookup, as Spark's optimizer does for the same filter.
    */
  def predicate(spark: SparkSession, schema: StructType, cond: Expression): BasePredicate = {
    val rel = LocalRelation(DataTypeUtils.toAttributes(schema))
    val analyzed = spark.asInstanceOf[classic.SparkSession].sessionState.analyzer
      .execute(Filter(cond, rel))
    OptimizeIn(ConstantFolding(analyzed)) match {
      case f: Filter if f.resolved =>
        val p = Predicate.createInterpreted(BindReferences.bindReference(f.condition, rel.output))
        p.initialize(0)
        p
      case other => throw new IllegalArgumentException(s"unresolved predicate $other")
    }
  }
}
