package graft.sources

import graft.index.{Index, IndexIdStream}
import graft.store.{ColumnStore, Decode, SelIds, TableSpec}
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, Descending,
  DynamicPruning, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{FilterExec, LeafExecNode, ProjectExec, SparkPlan,
  SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.LongType

/** Ordered-scan pushdown (`option("ordered", col)`): stream the table in
  * index VALUE order with NO Spark sort anywhere in the plan.
  *
  * Shape: ONE task walks the index's row_id column (the index parquet
  * files are globally range-sorted: file-name order = range-bucket order,
  * rows sorted within) through `IndexIdStream` — the parquet-java run
  * reader the driver-side index consults use, opened with the JVM's one
  * Hadoop Configuration — and gathers the table rows in id batches through
  * the normal chunk machinery — each batch is a SelIds scatter-back into
  * value-order slots, so memory is bounded by one batch and every touched
  * chunk decodes once per batch.
  *
  * Planning: the [[OrderedReads]] strategy (injected by
  * [[graft.functions.GraftExtensions]]) plans an engaged scan as one
  * [[GraftOrderedScanExec]], which reports `SinglePartition` and the
  * column's `SortOrder`; Spark's own EnsureRequirements and
  * RemoveRedundantSorts then drop a matching global Sort and insert no
  * exchange, with adaptive execution on or off.
  *
  * This is the ordered-EXPORT path (pagination/top-k already have their
  * own pushdowns): a full sort of 100 TB shuffles everything twice, while
  * this streams sorted output through one writer — the right tool when the
  * consumer is a serial sink. It engages only when the index is FRESH and
  * delta-generation-free (a gen stack orders per-generation, not
  * globally) and nothing else is pushed; otherwise, and in a session
  * without the extension, the scan stays a normal parallel scan and the
  * user's Sort node survives — the exact fallback.
  *
  * Concurrent maintenance: the task takes the store's snapshot at
  * execution, gathers every batch from it, and requires the planned index
  * meta to be routable for it; an index REBUILD (which deletes the planned
  * parquet files) or an in-place update between planning and execution
  * fails the task loudly rather than emitting mis-ordered rows.
  */
final case class GraftOrderedPartition(root: String, col: String,
    wanted: Seq[String], outFields: Seq[String], spec: TableSpec,
    indexDir: String, files: Seq[String], expectRows: Long,
    expectVersion: Long, batchRows: Int, desc: Boolean = false)

/** The rows of one ordered partition, in index order. */
final class OrderedRows(p: GraftOrderedPartition)
    extends Iterator[InternalRow] with AutoCloseable {

  private val store = ColumnStore.open(p.root)
  private val snap = store.snapshot
  locally {
    val m = Index.readMeta(store, p.col)
    require(m.rows == p.expectRows && m.version == p.expectVersion &&
      m.gens.isEmpty && Index.fresh(snap, p.col, m),
      s"index on ${p.col} changed between planning and execution of an " +
        "ordered scan — re-run the query")
  }

  private val ids = new IndexIdStream(p.indexDir, p.files, p.desc)
  private var emitted = 0L
  // copies a decoded row's outFields (dropping the trailing `_pos`)
  private val keep = UnsafeProjection.create(p.outFields.map {
    case "_row_id" => LongType
    case f => ColumnStore.sparkType(p.spec.col(f).ptype)
  }.toArray)
  private val posField = p.outFields.length

  private val rows: Iterator[InternalRow] =
    ids.grouped(p.batchRows).flatMap { batch =>
      val idArr = batch.toArray
      val pos = Array.tabulate(idArr.length)(_.toLong)
      val (units, _) = snap.planUnits(p.wanted, SelIds(idArr, pos),
        emptyMeansAll = false)
      // chunks decode once in disk order; each row lands in its value-order
      // slot by `_pos`
      val slots = new Array[InternalRow](idArr.length)
      units.foreach { u =>
        val r = new Decode.ColumnarUnitReader(u, p.spec, p.outFields :+ "_pos")
        try r.rows.foreach(row => slots(row.getLong(posField).toInt) = keep(row).copy())
        finally r.close()
      }
      slots.indices.foreach(i => require(slots(i) != null,
        s"ordered gather missed id ${idArr(i)} — store changed mid-scan"))
      slots.iterator
    }

  override def hasNext: Boolean = rows.hasNext || {
    require(emitted == p.expectRows,
      s"ordered scan emitted $emitted of ${p.expectRows} rows — " +
        "index changed mid-scan")
    false
  }
  override def next(): InternalRow = {
    emitted += 1
    rows.next()
  }
  override def close(): Unit = ids.close()
}

/** Plans an engaged ordered scan as one [[GraftOrderedScanExec]], with the
  * query's residual filters and projection over it. Matches the whole
  * Project/Filter/scan pattern, since `DataSourceV2Strategy` claims that
  * pattern, not the bare leaf; an unengaged scan is left to it.
  */
object OrderedReads extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(projects, filters, r: DataSourceV2ScanRelation) => r.scan match {
      case g: GraftScan => g.orderedPlan.map { p =>
        val scan = GraftOrderedScanExec(r.output, p, g.description())
        // a join-derived runtime filter only prunes: the join applies it
        val cond = filters.filterNot(_.isInstanceOf[DynamicPruning]).reduceOption(And)
        val filtered = cond.fold[SparkPlan](scan)(FilterExec(_, scan))
        if (filtered.output == projects) filtered else ProjectExec(projects, filtered)
      }.toSeq
      case _ => Nil
    }
    case _ => Nil
  }
}

/** An engaged ordered scan: one task emitting UnsafeRows in index order. */
final case class GraftOrderedScanExec(output: Seq[Attribute], part: GraftOrderedPartition,
    detail: String) extends LeafExecNode {
  override def nodeName: String = "GraftOrderedScan"
  override protected def stringArgs: Iterator[Any] = Iterator(output, detail)
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] =
    output.find(_.name == part.col)
      .map(SortOrder(_, if (part.desc) Descending else Ascending)).toSeq

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    sparkContext.parallelize(Seq(part), 1).mapPartitions { parts =>
      val rows = new OrderedRows(parts.next())
      TaskContext.get().addTaskCompletionListener[Unit](_ => rows.close())
      rows.map { r => numOutputRows += 1; r }
    }
  }
}
