package graft.sources

import graft.store.{Decode, SelIds}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference,
  AttributeSet, BindReferences, Expression, IntegerLiteral, InterpretedUnsafeProjection,
  NamedExpression, Predicate, SubqueryExpression, Unevaluable}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Limit, LogicalPlan, ReturnAnswer}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types.LongType

/** Answers a driver-sized read of a graft scan on the driver, with no
  * Spark job — as the reference answers every read in-process. Injected
  * through [[graft.functions.GraftExtensions]] as a planner strategy: an
  * injected optimizer rule runs before the V2 pushdown builds the scan.
  *
  * Matches the root of a query (`ReturnAnswer`) over Project/Filter over a
  * [[GraftScan]], optionally under a literal limit (a pushed offset leaves
  * no node), and decodes the units the scan planned — so limit, offset,
  * top-N and index routing apply as on the distributed path:
  *  1. the columns the filter references, for every planned row; Spark's
  *     own bound predicate, interpreted, picks the matching row ids;
  *  2. the projected columns for those ids only (a `SelIds` gather), then
  *     the projection, into UnsafeRows.
  * Each phase stays within `Decode.driverBound` (the index's
  * `DriverRows`/`DriverBytes`); past it, and for every other shape
  * (aggregates, joins, sorts, a scan below the root, an ordered scan), the
  * plan is left to Spark's own strategies.
  */
object DriverReads extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(child) => answer(child).toSeq
    case _ => Nil
  }

  private def answer(plan: LogicalPlan): Option[GraftLocalScanExec] = plan match {
    case Limit(IntegerLiteral(n), child) => answer(child).map(e => e.copy(rows = e.rows.take(n)))
    case PhysicalOperation(projects, filters, r: DataSourceV2ScanRelation) => r.scan match {
      case g: GraftScan if (projects ++ filters).forall(onDriver) =>
        read(g, r.output, filters, projects)
      case _ => None
    }
    case _ => None
  }

  /** Can the driver evaluate `e` as a task would (attributes get bound)? */
  private def onDriver(e: Expression): Boolean =
    e.deterministic && !e.exists {
      case _: Attribute => false
      case _: SubqueryExpression | _: Unevaluable => true
      case _ => false
    }

  private def read(scan: GraftScan, output: Seq[AttributeReference],
      filters: Seq[Expression], projects: Seq[NamedExpression]): Option[GraftLocalScanExec] =
    scan.unitsForDriver.flatMap { case (snap, units) =>
      def columns(refs: AttributeSet): Seq[String] = output.filter(refs.contains).map(_.name)
      def attrs(fields: Seq[String]): Seq[Attribute] = fields.map(f =>
        output.find(_.name == f).getOrElse(AttributeReference(f, LongType, nullable = false)()))
      val outCols = columns(AttributeSet(projects.flatMap(_.references)))
      val outData = outCols.filterNot(_ == "_row_id")
      // phase 1: the rows the filter keeps, by id
      val cond = filters.reduceOption(And)
      val fields = cond.fold(Seq.empty[String])(c =>
        "_row_id" +: columns(c.references).filterNot(_ == "_row_id"))
      if (!Decode.fitsDriver(units, fields.drop(1))) None
      else {
        val kept: Option[(Array[Long], Int)] = cond.map { c =>
          val pred = Predicate.createInterpreted(BindReferences.bindReference(c, attrs(fields)))
          pred.initialize(0)
          val ids = Array.newBuilder[Long]
          val chunks = Decode.onDriver(units, snap.spec, fields) { row =>
            if (pred.eval(row)) ids += row.getLong(0)
          }
          (ids.result(), chunks)
        }
        // phase 2: the projected columns of those rows only
        val outUnits = kept.fold(units) { case (ids, _) =>
          snap.planUnits(outData, SelIds(ids, Array.tabulate(ids.length)(_.toLong)),
            emptyMeansAll = false)._1
        }
        if (!Decode.fitsDriver(outUnits, outData)) None
        else {
          val proj = InterpretedUnsafeProjection.createProjection(
            BindReferences.bindReferences(projects, attrs(outCols)))
          val rows = Array.newBuilder[InternalRow]
          val chunks = kept.fold(0)(_._2) +
            Decode.onDriver(outUnits, snap.spec, outCols)(r => rows += proj(r).copy())
          val out = rows.result().toSeq
          Some(GraftLocalScanExec(projects.map(_.toAttribute), out,
            s"${scan.description()}, AnsweredOnDriver: rows=${out.size}, chunks=$chunks"))
        }
      }
    }
}

/** A read answered on the driver: the rows are in hand, so collecting them
  * (or taking a few) runs no job. Names the scan it answered and what the
  * driver decoded.
  */
final case class GraftLocalScanExec(output: Seq[Attribute], @transient rows: Seq[InternalRow],
    detail: String) extends LeafExecNode {
  override def nodeName: String = "GraftLocalScan"
  override protected def stringArgs: Iterator[Any] = Iterator(output, detail)
  override def executeCollect(): Array[InternalRow] = rows.toArray
  override def executeTake(n: Int): Array[InternalRow] = rows.take(n).toArray
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(rows, 1)
}
