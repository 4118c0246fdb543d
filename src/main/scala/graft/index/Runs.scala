package graft.index

import graft.store.FsIO
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.statistics.{BinaryStatistics, BooleanStatistics,
  DoubleStatistics, FloatStatistics, IntStatistics, LongStatistics}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.{OutputFile, PositionOutputStream}
import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** One Parquet file of an index run, read with parquet-java directly — the
  * one reader behind the driver-side consults (`Index.lookup`,
  * `Index.topN`), the driver-side gen merge and the executor-side ordered
  * scan ([[IndexIdStream]]).
  * A run (the base sort or one delta generation) is a directory of files of
  * (value, row_id) rows sorted by (value, row_id); file-name order is range
  * order.
  *
  * Opened through `HadoopInputFile` with the JVM's one Configuration
  * (`FsIO.conf`): the checksummed local FS verifies the `.crc` sidecars as
  * Spark's own reader does, and no open builds a fresh Configuration (with
  * default read options each open did, ≈11 ms). Opening reads the footer;
  * a group's pages are read only when the group is.
  */
private[graft] final class RunFile(path: String) extends AutoCloseable {
  private val reader = ParquetFileReader.open(
    HadoopInputFile.fromPath(new Path(path), FsIO.conf), RunFile.options)
  private val footer = reader.getFooter
  private val meta = footer.getFileMetaData
  private val schema = meta.getSchema
  private def projection(cols: String*): MessageType =
    new MessageType(schema.getName, cols.map(c => schema.getType(schema.getFieldIndex(c))): _*)
  // only the requested columns' pages are read
  private val idsOnly = projection(Index.RowIdCol)
  private val both = projection(Index.ValueCol, Index.RowIdCol)

  def groups: Int = footer.getBlocks.size
  def rowCount(g: Int): Long = footer.getBlocks.get(g).getRowCount
  /** Uncompressed bytes of every row group, from the footer. */
  def rawBytes: Long = footer.getBlocks.asScala.map(_.getTotalByteSize).sum

  /** Footer min/max of group `g`'s values in the store's zone-map encoding
    * (kind, minBits, maxBits) — see `GraftScan.chunkMayMatch`. None when
    * the stats are missing or unusable (parquet-java drops float stats that
    * hit a NaN; binary without a string annotation has no usable order).
    */
  def stats(g: Int): Option[(Int, Long, Long)] =
    footer.getBlocks.get(g).getColumns.asScala
      .find(_.getPath.toDotString == Index.ValueCol)
      .map(_.getStatistics)
      .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
      .flatMap {
        case s: LongStatistics => Some((1, s.getMin, s.getMax))
        case s: IntStatistics => Some((1, s.getMin.toLong, s.getMax.toLong))
        case s: BooleanStatistics =>
          Some((1, if (s.getMin) 1L else 0L, if (s.getMax) 1L else 0L))
        case s: DoubleStatistics => Some((2,
          java.lang.Double.doubleToLongBits(s.getMin),
          java.lang.Double.doubleToLongBits(s.getMax)))
        case s: FloatStatistics => Some((2,
          java.lang.Double.doubleToLongBits(s.getMin.toDouble),
          java.lang.Double.doubleToLongBits(s.getMax.toDouble)))
        case s: BinaryStatistics if s.`type`.getLogicalTypeAnnotation ==
            LogicalTypeAnnotation.stringType() => Some((3,
          graft.codec.Utf8Order.prefix8Bytes(s.genericGetMin.getBytes),
          graft.codec.Utf8Order.prefix8Bytes(s.genericGetMax.getBytes)))
        case _ => None
      }

  private def read(g: Int, s: MessageType): (ColumnReadStoreImpl, Long) = {
    reader.setRequestedSchema(s)
    val pages = reader.readRowGroup(g)
    (new ColumnReadStoreImpl(pages, RunFile.NoConverter, s, meta.getCreatedBy),
      pages.getRowCount)
  }

  /** Group `g`'s row_ids in file order (8 B/row of the group). */
  def ids(g: Int): Array[Long] = {
    val (store, n) = read(g, idsOnly)
    val r = store.getColumnReader(idsOnly.getColumns.get(0))
    val out = new Array[Long](n.toInt)
    var i = 0
    while (i < out.length) {
      RunFile.dense(r)
      out(i) = r.getLong
      r.consume()
      i += 1
    }
    out
  }

  /** `f(value, row_id)` for every row of group `g` in file order; the value
    * in Spark's internal form for `dt`.
    */
  def foreach(g: Int, dt: DataType)(f: (Any, Long) => Unit): Unit = {
    val (store, n) = read(g, both)
    val v = store.getColumnReader(both.getColumns.get(0))
    val id = store.getColumnReader(both.getColumns.get(1))
    val get = RunFile.getter(dt)
    var i = 0L
    while (i < n) {
      RunFile.dense(v); RunFile.dense(id)
      f(get(v), id.getLong)
      v.consume(); id.consume()
      i += 1
    }
  }

  override def close(): Unit = reader.close()
}

private[graft] object RunFile {
  private def options = HadoopReadOptions.builder(FsIO.conf).build()

  // values are pulled from the column readers; nothing is pushed into
  // converters
  private val NoConverter: GroupConverter = new GroupConverter {
    override def getConverter(i: Int): Converter = new PrimitiveConverter {}
    override def start(): Unit = ()
    override def end(): Unit = ()
  }

  private def dense(r: ColumnReader): Unit =
    if (r.getCurrentDefinitionLevel != r.getDescriptor.getMaxDefinitionLevel)
      throw new IllegalStateException("null in index parquet") // graft columns are dense

  private def getter(dt: DataType): ColumnReader => Any = dt match {
    case LongType => _.getLong
    case IntegerType => _.getInteger
    case ShortType => _.getInteger.toShort
    case DoubleType => _.getDouble
    case FloatType => _.getFloat
    case BooleanType => _.getBoolean
    case StringType => r => UTF8String.fromBytes(r.getBinary.getBytes)
    case BinaryType => _.getBinary.getBytes
    case other => throw new IllegalArgumentException(s"no index over $other")
  }

  /** The `part-*.parquet` files of a run directory in range order. */
  def files(dir: String): Seq[String] =
    FsIO.list(dir).filter(f => f.startsWith("part-") && f.endsWith(".parquet")).sorted

  /** The SQL settings Spark's Parquet write support reads from the writer's
    * Configuration (Spark's own write copies them there before each job).
    */
  private val writeKeys = Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT,
    SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE, SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED,
    SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).map(_.key)

  /** Write `rows`, already in (value, row_id) order, as the run directory
    * `dir` with no Spark job: Spark's own Parquet write support over
    * InternalRows, streamed through `FsIO.createOut` (nio plus a `.crc`
    * sidecar on local paths). Files are `part-<k>-<uuid>.parquet`, so
    * file-name order is range order. As Spark's write does, it takes the
    * session's compression codec, row-group size (`parquet.block.size`) and
    * `maxRecordsPerFile`; a run with no rows still gets one (empty) file.
    */
  def write(spark: SparkSession, dir: String, schema: StructType,
      rows: collection.Seq[(Any, Long)]): Unit = {
    val conf = new Configuration(false)
    // REQUIRED columns, as Spark writes the store's non-null columns: no
    // definition levels to write or read back
    ParquetWriteSupport.setSchema(StructType(schema.map(_.copy(nullable = false))), conf)
    writeKeys.foreach(k => conf.set(k, spark.conf.get(k)))
    val codec = CompressionCodecName.fromConf(
      spark.conf.get(SQLConf.PARQUET_COMPRESSION.key) match {
        case "none" => "uncompressed"
        case c => c
      })
    val groupBytes = spark.conf.getOption(ParquetOutputFormat.BLOCK_SIZE)
      .map(_.toLong).getOrElse(ParquetWriter.DEFAULT_BLOCK_SIZE.toLong)
    val perFile = spark.conf.get(SQLConf.MAX_RECORDS_PER_FILE.key).toLong
    val uuid = java.util.UUID.randomUUID().toString
    val slices = if (perFile > 0 && perFile < rows.size) rows.grouped(perFile.toInt) else Iterator(rows)
    slices.zipWithIndex.foreach { case (slice, k) =>
      val w = new RunFile.Builder(new RunFile.Out(f"$dir/part-$k%05d-$uuid.parquet"))
        .withConf(conf).withCompressionCodec(codec).withRowGroupSize(groupBytes).build()
      try {
        val row = new GenericInternalRow(2)
        slice.foreach { case (v, id) => row.update(0, v); row.setLong(1, id); w.write(row) }
      } finally w.close()
    }
  }

  private final class Builder(f: OutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](f) {
    override def self(): Builder = this
    override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** A data file written through `FsIO.createOut`. */
  private final class Out(path: String) extends OutputFile {
    override def create(blockSizeHint: Long): PositionOutputStream =
      createOrOverwrite(blockSizeHint)
    override def createOrOverwrite(blockSizeHint: Long): PositionOutputStream =
      new PositionOutputStream {
        private val out = FsIO.createOut(path)
        private var pos = 0L
        override def getPos: Long = pos
        override def write(b: Int): Unit = { out.write(b); pos += 1 }
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          out.write(b, off, len); pos += len
        }
        override def flush(): Unit = out.flush()
        override def close(): Unit = out.close()
      }
    override def supportsBlockSize(): Boolean = false
    override def defaultBlockSize(): Long = 0L
    override def getPath: String = path
  }
}

/** An index run's `row_id` column in file order — i.e. in VALUE order (the
  * index build is a repartitionByRange + sortWithinPartitions; Spark names
  * output files in partition order). Reads only the row_id column chunks,
  * so the stream costs ~8 bytes/row of I/O whatever the value type, and
  * buffers one row group's ids.
  *
  * `descending = true` walks files and row groups in REVERSE and emits each
  * group's ids back-to-front — descending value order.
  */
private[graft] final class IndexIdStream(dir: String, files: Seq[String],
    descending: Boolean = false)
    extends Iterator[Long] with AutoCloseable {

  private val remaining = (if (descending) files.reverse else files).iterator
  private var file: RunFile = _
  private var groupsLeft: Iterator[Int] = Iterator.empty
  private var buf: Array[Long] = Array.emptyLongArray
  private var pos = 0

  override def hasNext: Boolean = {
    while (pos >= buf.length) {
      if (groupsLeft.hasNext) {
        val ids = file.ids(groupsLeft.next())
        buf = if (descending) ids.reverse else ids
        pos = 0
      } else {
        close()
        if (!remaining.hasNext) return false
        file = new RunFile(s"$dir/${remaining.next()}")
        val gs = 0 until file.groups
        groupsLeft = (if (descending) gs.reverse else gs).iterator
      }
    }
    true
  }

  override def next(): Long = {
    if (!hasNext) throw new NoSuchElementException
    pos += 1
    buf(pos - 1)
  }

  override def close(): Unit = if (file != null) {
    try file.close() catch { case _: Exception => () }
    file = null
  }
}
