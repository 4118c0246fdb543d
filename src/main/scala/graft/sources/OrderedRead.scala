package graft.sources

import graft.index.Index
import graft.store.{ColumnStore, Decode, FsIO, SelIds, TableSpec}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.types.LongType

/** Ordered-scan pushdown (`option("ordered", col)`): stream the table in
  * index VALUE order with NO Spark sort anywhere in the plan.
  *
  * Shape: ONE input partition whose reader walks the index's row_id column
  * (the index parquet files are globally range-sorted: file-name order =
  * range-bucket order, rows sorted within) and gathers the table rows in
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
  * Concurrent maintenance: the reader re-checks the index stamp at
  * execution and the batch gather re-reads live manifests; an index
  * REBUILD (which deletes the planned parquet files) or an in-place update
  * between planning and execution fails the task loudly rather than
  * emitting mis-ordered rows.
  */
final case class GraftOrderedPartition(root: String, col: String,
    wanted: Seq[String], outFields: Seq[String], spec: TableSpec,
    indexDir: String, files: Seq[String], expectRows: Long,
    expectStamp: Long, batchRows: Int, desc: Boolean = false)
    extends InputPartition

class OrderedPartitionReader(p: GraftOrderedPartition)
    extends PartitionReader[InternalRow] {

  private val store = ColumnStore.open(p.root)
  locally {
    val m = Index.readMeta(store, p.col)
    require(m.rows == p.expectRows && m.stamp == p.expectStamp &&
      m.gens.isEmpty && store.nrows == p.expectRows &&
      store.updateStamp == p.expectStamp,
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
      val (units, _) = store.planUnits(p.wanted, SelIds(idArr, pos),
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

/** Executor-side stream of the index's `row_id` column in file order —
  * i.e. in VALUE order (the index build is a repartitionByRange +
  * sortWithinPartitions; Spark names output files in partition order).
  * Reads ONLY the row_id column chunks (requested-schema projection), so
  * the stream costs ~8 bytes/row of I/O regardless of the value type.
  *
  * `descending = true` walks files and row groups in REVERSE, buffering
  * one row group's ids (8 B/row of that group) and emitting them
  * back-to-front — descending value order with bounded memory.
  */
private[sources] class IndexIdStream(dir: String, files0: Seq[String],
    descending: Boolean = false)
    extends Iterator[Long] with AutoCloseable {
  import org.apache.parquet.hadoop.ParquetFileReader
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.parquet.column.impl.ColumnReadStoreImpl
  import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
  import org.apache.parquet.schema.{MessageType, Type}

  private val remaining = (if (descending) files0.reverse else files0).iterator
  private var reader: ParquetFileReader = _
  private var colReader: org.apache.parquet.column.ColumnReader = _
  private var maxDef: Int = 0
  private var groupLeft: Long = 0L
  private var schema: MessageType = _
  private var groupIdx: Int = 0 // next group to read (desc: counts down)
  private var descBuf: Array[Long] = _
  private var descPos: Int = 0 // next emit position in descBuf (counts down)

  private val dummyConverter: GroupConverter = new GroupConverter {
    override def getConverter(i: Int): Converter = new PrimitiveConverter {}
    override def start(): Unit = ()
    override def end(): Unit = ()
  }

  private def openNextFile(): Boolean = {
    closeFile()
    while (remaining.hasNext) {
      val f = remaining.next()
      reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/$f"), FsIO.conf))
      val full = reader.getFooter.getFileMetaData.getSchema
      // project to row_id only: other columns' pages are never read
      val rowIdField: Type = full.getType(full.getFieldIndex(Index.RowIdCol))
      schema = new MessageType(full.getName, rowIdField)
      reader.setRequestedSchema(schema)
      groupIdx = if (descending) reader.getRowGroups.size() - 1 else 0
      if (nextGroup()) return true
      closeFile() // empty file: advance
    }
    false
  }

  private def nextGroup(): Boolean = {
    val pages =
      if (descending) {
        if (groupIdx < 0) null
        else { val p = reader.readRowGroup(groupIdx); groupIdx -= 1; p }
      } else reader.readNextRowGroup()
    if (pages == null) return false
    val desc = schema.getColumns.get(0)
    maxDef = desc.getMaxDefinitionLevel
    val store = new ColumnReadStoreImpl(pages, dummyConverter, schema,
      reader.getFooter.getFileMetaData.getCreatedBy)
    colReader = store.getColumnReader(desc)
    groupLeft = pages.getRowCount
    if (descending && groupLeft > 0) {
      // buffer this group's ids and emit back-to-front
      val n = groupLeft.toInt
      if (descBuf == null || descBuf.length < n) descBuf = new Array[Long](n)
      var i = 0
      while (i < n) { descBuf(i) = readOne(); i += 1 }
      descPos = n
      groupLeft = n // emit counter
    }
    groupLeft > 0
  }

  private def readOne(): Long = {
    require(colReader.getCurrentDefinitionLevel == maxDef,
      "null row_id in index parquet")
    val v = colReader.getLong
    colReader.consume()
    v
  }

  override def hasNext: Boolean = {
    while (groupLeft == 0L) {
      if (reader == null || !nextGroup()) {
        if (!openNextFile()) return false
      }
    }
    true
  }

  override def next(): Long = {
    if (!hasNext) throw new NoSuchElementException
    groupLeft -= 1
    if (descending) { descPos -= 1; descBuf(descPos) }
    else readOne()
  }

  private def closeFile(): Unit = {
    if (reader != null) {
      try reader.close() catch { case _: Exception => () }
      reader = null
      colReader = null
      groupLeft = 0L
    }
  }

  override def close(): Unit = closeFile()
}
