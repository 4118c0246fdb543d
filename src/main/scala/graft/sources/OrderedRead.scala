package graft.sources

import graft.index.{Index, IndexIdStream}
import graft.store.{ColumnStore, Decode, SelIds, TableSpec}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.types.LongType

/** Ordered-scan pushdown (`option("ordered", col)`): stream the table in
  * index VALUE order with NO Spark sort anywhere in the plan.
  *
  * Shape: ONE input partition whose reader walks the index's row_id column
  * (the index parquet files are globally range-sorted: file-name order =
  * range-bucket order, rows sorted within) through `IndexIdStream` — the
  * parquet-java run reader the driver-side index consults use, opened with
  * the JVM's one Hadoop Configuration — and gathers the table rows in
  * id batches through the normal chunk machinery — each batch is a SelIds
  * scatter-back into value-order slots, so memory is bounded by one batch
  * and every touched chunk decodes once per batch. The scan reports its
  * output ordering (SupportsReportOrdering) and, being a single partition,
  * Spark's RemoveRedundantSorts drops the user's global Sort.
  *
  * This is the ordered-EXPORT path (pagination/top-k already have their
  * own pushdowns): a full sort of 100 TB shuffles everything twice, while
  * this streams sorted output through one writer — the right tool when the
  * consumer is a serial sink. It engages only when the index is FRESH and
  * delta-generation-free (a gen stack orders per-generation, not
  * globally); otherwise the scan stays a normal parallel scan, reports no
  * ordering, and the user's Sort node survives — the exact fallback.
  *
  * Concurrent maintenance: the reader takes the store's snapshot at
  * execution, gathers every batch from it, and requires the planned index
  * meta to be routable for it; an index REBUILD (which deletes the planned
  * parquet files) or an in-place update between planning and execution
  * fails the task loudly rather than emitting mis-ordered rows.
  */
final case class GraftOrderedPartition(root: String, col: String,
    wanted: Seq[String], outFields: Seq[String], spec: TableSpec,
    indexDir: String, files: Seq[String], expectRows: Long,
    expectVersion: Long, batchRows: Int, desc: Boolean = false)
    extends InputPartition

class OrderedPartitionReader(p: GraftOrderedPartition)
    extends PartitionReader[InternalRow] {

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

  private var current: InternalRow = _
  override def next(): Boolean = {
    if (!rows.hasNext) {
      require(emitted == p.expectRows,
        s"ordered scan emitted $emitted of ${p.expectRows} rows — " +
          "index changed mid-scan")
      return false
    }
    current = rows.next()
    emitted += 1
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = ids.close()
}
