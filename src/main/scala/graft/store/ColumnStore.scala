package graft.store

import graft.codec._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.TaskContext
import scala.collection.mutable

/** How the writer partitions input before encoding (SURVEY.md §3.3).
  *
  *  - ByKey: explicit range partitioning on a key (north rule: doc_id) —
  *    rows get globally key-sorted row ids; deterministic at any parallelism
  *    because the partition count is fixed, not derived from cores.
  *  - ByKeySalted: range partition on (key, salt) for skewed keys (north
  *    rule: skewed `source` values) — equal keys spread over adjacent
  *    partitions, global key order preserved.
  *  - AsIs: keep the input partitioning/order (pycolumns append semantics —
  *    row id = arrival order).
  */
sealed trait OrderMode
final case class ByKey(key: String, numParts: Int) extends OrderMode
final case class ByKeySalted(key: String, numParts: Int, salts: Int) extends OrderMode
case object AsIs extends OrderMode

/** Row selection (pycolumns util.extract_rows canonical forms,
  * /root/reference/pycolumns/util.py:6-57): everything / slice (with step) /
  * explicit row-id list carrying request positions (gather returns rows in
  * request order via `_pos`, mirroring C `_read_rows_sortind` scatter-back,
  * _column_pywrap.c:616-668).
  */
sealed trait Selection extends Serializable
case object SelAll extends Selection
final case class SelRange(start: Long, stop: Long, step: Long) extends Selection
final case class SelIds(ids: Array[Long], pos: Array[Long]) extends Selection
/** Sorted, disjoint global [start, stop) ranges — produced by zone-map
  * chunk pruning on value predicates (DSv2 pushdown).
  */
final case class SelRanges(starts: Array[Long], stops: Array[Long]) extends Selection

/** A decode task unit: one (segment, partition) with the chunks to read.
  * Pruning already happened on the driver against the manifest zone map
  * (rowstart/nrows — the reference's chunk binary search, util.py:358-377).
  */
final case class DecodeUnit(
    root: String,
    segment: Long,
    part: Int,
    globalOffset: Long,
    partRows: Long,
    colChunks: Map[String, Seq[ChunkMeta]],
    sel: Selection) extends Serializable

object ColumnStore {

  def sparkType(pt: PType.PType): DataType = pt match {
    case PType.I64 => LongType
    case PType.I32 => IntegerType
    case PType.I16 => ShortType
    case PType.F64 => DoubleType
    case PType.F32 => FloatType
    case PType.BOOL => BooleanType
    case PType.STR => StringType
    case PType.BIN => BinaryType
    case PType.I32LIST => ArrayType(IntegerType, containsNull = false)
  }

  def ptypeOf(dt: DataType): PType.PType = dt match {
    case LongType => PType.I64
    case IntegerType => PType.I32
    case ShortType => PType.I16
    case DoubleType => PType.F64
    case FloatType => PType.F32
    case BooleanType => PType.BOOL
    case StringType => PType.STR
    case BinaryType => PType.BIN
    case ArrayType(IntegerType, _) => PType.I32LIST
    case other => throw new IllegalArgumentException(
      s"unsupported type $other (reference supports numpy scalar dtypes only," +
        " pycolumns column.py:398-406)")
  }

  /** Schema inference (pycolumns TableSchema.from_array, schema.py:78-133). */
  def specFromSchema(schema: StructType, targetChunkBytes: Long = 1L << 20,
      chunkRows: Int = 0): TableSpec =
    TableSpec(schema.fields.toSeq.map(f =>
      ColumnSpec(f.name, ptypeOf(f.dataType).id)), targetChunkBytes, chunkRows)

  def create(root: String, spec: TableSpec): ColumnStore = {
    require(!FsIO.exists(s"$root/${Format.SchemaFile}"), s"store exists at $root")
    FsIO.mkdirs(root)
    FsIO.mkdirs(s"$root/${Format.MetaDir}")
    FsIO.mkdirs(s"$root/${Format.SegmentsDir}")
    FsIO.writeAtomic(s"$root/${Format.SchemaFile}", BinCodec.writeTableSpec(spec))
    Snapshot.create(root, spec)
    new ColumnStore(root)
  }

  def open(root: String): ColumnStore = {
    require(FsIO.exists(s"$root/${Format.SchemaFile}"), s"no store at $root")
    new ColumnStore(root)
  }

  def exists(root: String): Boolean = FsIO.exists(s"$root/${Format.SchemaFile}")

  // ---------------------------------------------------------------- encode

  /** Column accumulation during encode; one per column per partition. */
  private final class ColBuilder(val spec: ColumnSpec) {
    private val pt = spec.ptype
    private val longs = mutable.ArrayBuilder.make[Long]
    private val ints = mutable.ArrayBuilder.make[Int]
    private val shorts = mutable.ArrayBuilder.make[Short]
    private val doubles = mutable.ArrayBuilder.make[Double]
    private val floats = mutable.ArrayBuilder.make[Float]
    private val bools = mutable.ArrayBuilder.make[Boolean]
    private val strs = mutable.ArrayBuilder.make[String]
    private val bins = mutable.ArrayBuilder.make[Array[Byte]]
    private val listLens = mutable.ArrayBuilder.make[Int]
    private val listVals = mutable.ArrayBuilder.make[Int]
    var rawBytes: Long = 0L
    var count: Int = 0

    /** Consume one InternalRow field — primitive getters and bulk array
      * copies only (no per-value boxing; `getArray(i).toIntArray()` is one
      * Platform.copyMemory). Encode throughput is memory-bandwidth-bound,
      * so this path matters at every scale.
      */
    def add(row: InternalRow, i: Int): Unit = {
      require(!row.isNullAt(i),
        s"null in column ${spec.name}: the store has no null support " +
          "(reference columns are dense numpy arrays)")
      pt match {
        case PType.I64 => longs += row.getLong(i); rawBytes += 8
        case PType.I32 => ints += row.getInt(i); rawBytes += 4
        case PType.I16 => shorts += row.getShort(i); rawBytes += 2
        case PType.F64 => doubles += row.getDouble(i); rawBytes += 8
        case PType.F32 => floats += row.getFloat(i); rawBytes += 4
        case PType.BOOL => bools += row.getBoolean(i); rawBytes += 1
        case PType.STR =>
          val s = row.getUTF8String(i).toString; strs += s; rawBytes += s.length + 4
        case PType.BIN =>
          val b = row.getBinary(i); bins += b; rawBytes += b.length + 4
        case PType.I32LIST =>
          val arr = row.getArray(i).toIntArray()
          listLens += arr.length
          listVals.addAll(arr)
          rawBytes += 4L * arr.length + 4
      }
      count += 1
    }

    def flush(): ColVec = {
      val v: ColVec = pt match {
        case PType.I64 => LongVec(longs.result())
        case PType.I32 => IntVec(ints.result())
        case PType.I16 => ShortVec(shorts.result())
        case PType.F64 => DoubleVec(doubles.result())
        case PType.F32 => FloatVec(floats.result())
        case PType.BOOL => BoolVec(bools.result())
        case PType.STR => StrVec(strs.result())
        case PType.BIN => BinVec(bins.result())
        case PType.I32LIST => IntListVec(listLens.result(), listVals.result())
      }
      longs.clear(); ints.clear(); shorts.clear(); doubles.clear()
      floats.clear(); bools.clear(); strs.clear(); bins.clear()
      listLens.clear(); listVals.clear()
      rawBytes = 0L
      count = 0
      v
    }
  }

  /** Push-based encoder for one partition — the heart of the engine
    * (SURVEY.md §2.5 C1). Used by both write surfaces: the API append path
    * (pull from an iterator, `encodePartition`) and the DSv2 `BatchWrite`
    * DataWriter (Spark pushes rows in).
    */
  private[graft] final class PartitionEncoder(spec: TableSpec, segDir: String,
      segment: Long, val part: Int, lineage: String, cfg: CodecConfig) {
    private val t0 = System.nanoTime()
    private val cols = spec.columns.toArray
    private val builders = cols.map(new ColBuilder(_))
    private val chunks = mutable.ArrayBuffer.empty[ChunkMeta]
    private val streams = new Array[java.io.OutputStream](cols.length)
    private val tmpNames = new Array[String](cols.length)
    private val offsets = new Array[Long](cols.length)
    private val chunkIdx = new Array[Int](cols.length)
    // per-column codec config + chunk boundaries (reference: chunksize and
    // compression resolve PER COLUMN through the schema, schema.py:264-325;
    // each column's chunk grid is independent, like pycolumns chunked cols)
    private val colCfg = cols.map(c => CodecConfig.forColumn(cfg, c.compression))
    private val colTarget = cols.map { c =>
      if (c.chunkRows > 0) c.chunkRows
      else if (spec.chunkRows > 0) spec.chunkRows
      else 0 // derive from observed bytes/row at the 256-row mark
    }
    private val colRowStart = new Array[Long](cols.length)
    private var nrows = 0L

    locally { // open one tmp stream per column
      var c = 0
      while (c < cols.length) {
        tmpNames(c) = s"$segDir/${Format.colFile(part, cols(c).name)}" +
          ".tmp-" + java.util.UUID.randomUUID().toString.take(8)
        // createOut: Hadoop stream off-local; nio + hand-written Hadoop-
        // compatible .crc sidecar on local paths (read-path verification
        // unchanged, no per-file chmod fork)
        streams(c) = FsIO.createOut(tmpNames(c))
        c += 1
      }
    }

    private def flushCol(c: Int): Unit = {
      if (builders(c).count == 0) return
      val vec = builders(c).flush()
      val (blob, info) = Chunk.encodeWithInfo(vec, colCfg(c))
      streams(c).write(blob)
      // membership filter interleaved AFTER its chunk in the same file:
      // chunk reads stay exact ranged reads, and the few-KB filter region
      // is what an unindexed point lookup reads INSTEAD of the chunk
      val filter = if (cfg.chunkFilters) graft.codec.MemberFilter.fromVec(vec)
        else None
      filter.foreach(streams(c).write)
      val (fk, fOff, fLen) = filter match {
        case Some(f) => (1, offsets(c) + blob.length, f.length.toLong)
        case None => (0, 0L, 0L)
      }
      chunks += ChunkMeta(cols(c).name, chunkIdx(c), colRowStart(c),
        info.nrows, info.codec, info.outer,
        Format.colFile(part, cols(c).name), offsets(c), blob.length.toLong,
        info.rawBytes, FsIO.crc32c(blob),
        info.statsKind, info.minBits, info.maxBits, info.sumKind, info.sumBits,
        fk, fOff, fLen)
      offsets(c) += blob.length + fLen
      chunkIdx(c) += 1
      colRowStart(c) += vec.n
    }

    /** Consume one row (fields in spec.columns order). */
    def add(row: InternalRow): Unit = {
      var c = 0
      while (c < cols.length) {
        builders(c).add(row, c)
        if (colTarget(c) == 0 && builders(c).count >= 256) {
          // derive rows/chunk so THIS column's chunk is ~target bytes
          // uncompressed (reference '1m' policy, chunks.py:600-618)
          val bytesTarget =
            if (cols(c).chunkBytes > 0) cols(c).chunkBytes else spec.targetChunkBytes
          // floor 16, not 256: with multi-MB values a 256-row floor builds
          // gigabyte chunk payloads (the Bytes.Writer 2 GiB guard trips)
          val perRow = builders(c).rawBytes.toDouble / builders(c).count
          colTarget(c) = math.max(16, math.min(1 << 22,
            (bytesTarget / math.max(1.0, perRow)).toInt))
        }
        if (colTarget(c) > 0 && builders(c).count >= colTarget(c)) flushCol(c)
        c += 1
      }
      nrows += 1
    }

    /** Flush tails, publish column files, checkpoint the part manifest. */
    def finish(): Array[Byte] = {
      var c = 0
      while (c < cols.length) {
        flushCol(c)
        streams(c).close()
        val dest = s"$segDir/${Format.colFile(part, cols(c).name)}"
        FsIO.delete(dest)
        FsIO.rename(tmpNames(c), dest)
        c += 1
      }
      val manifest = PartManifest(segment, part, nrows,
        System.nanoTime() - t0, lineage, 0, chunks.toSeq)
      val bytes = BinCodec.writePartManifest(manifest)
      // checkpoint: partition complete (doubles as the resume marker)
      FsIO.writeAtomic(s"$segDir/${Format.partManifestFile(part, 0)}", bytes)
      bytes
    }

    /** Drop this attempt's tmp files (DSv2 task abort). */
    def abort(): Unit = {
      var c = 0
      while (c < cols.length) {
        try streams(c).close() catch { case _: Exception => }
        try FsIO.delete(tmpNames(c)) catch { case _: Exception => }
        c += 1
      }
    }
  }

  /** Encode one partition's rows into per-column chunk files + manifest.
    * Runs inside `runJob` on executors; resumable: if the partition
    * manifest already exists, the input is skipped and the prior result
    * returned.
    */
  private[graft] def encodePartition(
      it: Iterator[InternalRow],
      spec: TableSpec,
      segDir: String,
      segment: Long,
      lineage: String,
      cfg: CodecConfig): (Int, Array[Byte]) = {
    val part = TaskContext.getPartitionId()
    val manifestPath = s"$segDir/${Format.partManifestFile(part, 0)}"
    if (FsIO.exists(manifestPath)) {
      // resume: partition already complete from a prior attempt/run
      return part -> FsIO.readAll(manifestPath)
    }
    val enc = new PartitionEncoder(spec, segDir, segment, part, lineage, cfg)
    try {
      while (it.hasNext) enc.add(it.next())
      part -> enc.finish()
    } catch {
      case e: Throwable =>
        // close streams + drop this attempt's tmp files: a failed task (null
        // value, I/O error) must not leak an open stream and an orphan
        // .tmp-xxxx per column per attempt
        enc.abort()
        throw e
    }
  }

  /** Publish a segment: consolidated manifest, then the (not-yet-visible)
    * commit record, then ONE atomic create-exclusive `.commit-<n>` marker
    * in the segments dir that is simultaneously the commit-order sequence
    * allocation AND the publication. Shared by the API append path and the
    * DSv2 BatchWrite commit.
    *
    * Why a marker: global row ids are assigned by reader-side segment
    * ORDER, and ordering by segment NUMBER would renumber already-visible
    * rows when a lower-numbered claimed segment commits later (writer A
    * claims seg 1, B claims seg 2, B commits first: B's rows are visible;
    * A's later commit must append AFTER them, not shift them). A two-step
    * scheme (claim a sequence, then publish) would still break on a writer
    * that STALLS between the steps while a later sequence publishes; here
    * allocation and publication are the same single atomic create, so a
    * stalled writer is simply not committed yet and always lands after.
    * Losing the race just retries the next number; readers sort by marker
    * number. Marker count is bounded by segment count; compactSegments
    * resets both. The store version published last makes the segment
    * visible to readers holding an older snapshot.
    *
    * The published segment is encoded IN THE MARKER NAME
    * (`.commit-<n>-<seg>`): create-exclusive is atomic for the name, but a
    * payload is only atomically visible on close (and on HDFS-like stores
    * the content of an open file is empty to readers), so a name-only
    * protocol has no window where a concurrent lister sees the marker but
    * reads 0 bytes.
    */
  private[graft] def commitSegment(root: String, seg: Long,
      byPart: Seq[(Int, Array[Byte])], lineage: String): Unit = {
    val segDir = Format.segDir(root, seg)
    val sorted = byPart.sortBy(_._1)
    FsIO.writeAtomic(s"$segDir/${Format.SegManifestFile}",
      BinCodec.writeSegManifest(sorted.map(_._2)))
    val rows = sorted.map { case (p, m) =>
      BinCodec.readPartManifest(m, s"$segDir/${Format.partManifestFile(p, 0)}").nrows
    }
    FsIO.writeAtomic(s"$segDir/_commit.bin",
      BinCodec.writeSegmentCommit(SegmentCommit(seg, rows, lineage)))
    val segsDir = segDir.substring(0, segDir.lastIndexOf('/'))
    val names = FsIO.list(segsDir)
    val floor = (names.collect { case n if n.startsWith(".commit-") => markerParts(segsDir, n)._1 } ++
      names.collect { case n if n.startsWith("seg") => n.drop(3).toLong })
      .foldLeft(-1L)(math.max)
    var n = floor + 1
    var published = false
    while (!published && n < floor + 1000000) {
      try {
        FsIO.createExclusive(s"$segsDir/.commit-$n-$seg", Array.emptyByteArray)
        published = true
      } catch { case _: java.io.IOException => n += 1 }
    }
    require(published, s"could not publish a commit marker in $segsDir")
    Snapshot.publish(root, Change.Append)
  }

  /** Parse a marker filename `.commit-<n>-<seg>` into (sequence, segment). */
  private[graft] def markerParts(segsDir: String, name: String): (Long, Long) = {
    val body = name.drop(".commit-".length)
    val i = body.indexOf('-')
    if (i < 0) BinCodec.unsupported(s"$segsDir/$name", "a payload-only commit marker")
    (body.substring(0, i).toLong, body.substring(i + 1).toLong)
  }
}

/** A graft column store rooted at `root` — the Spark-native analogue of
  * `pycolumns.Columns` storage (SURVEY.md §1). All table-level operations
  * (write/read/update/vacuum) are Spark jobs. A handle holds only the root:
  * `snapshot` is the store's newest [[Snapshot]] (one listing while the
  * version is unchanged), so it sees every published mutation; take it
  * once per operation and read every piece of metadata from it.
  */
class ColumnStore(val root: String) extends Serializable {
  import ColumnStore._

  def snapshot: Snapshot = Snapshot.of(root)
  // the benchmark harness reads these three through the handle
  def segments: Seq[Long] = snapshot.segments
  def colRawBytes: Map[String, Long] = snapshot.colRawBytes
  def planUnits(columns: Seq[String], sel: Selection,
      emptyMeansAll: Boolean = true): (Seq[DecodeUnit], Seq[String]) =
    snapshot.planUnits(columns, sel, emptyMeansAll)

  /** Equal-length invariant across columns (pycolumns Columns.verify,
    * columns.py:449-469): every column must cover every row of every
    * committed partition.
    */
  def verify(): Unit = {
    val snap = snapshot
    for (seg <- snap.segments) {
      snap.commits(seg).partRows.zipWithIndex.foreach { case (rows, part) =>
        val m = snap.partManifest(seg, part)
        for (c <- snap.spec.columns if c.addedAtSegment <= seg) {
          val covered = m.chunks.filter(_.column == c.name).map(_.nrows.toLong).sum
          require(covered == rows,
            s"column ${c.name} covers $covered of $rows rows in seg=$seg part=$part")
        }
      }
    }
  }

  // --------------------------------------------------------------- write

  /** Encode `df` as the next segment. First write → segment 0; subsequent →
    * append (pycolumns Columns.append, columns.py:603-634: column-name sets
    * must match exactly; values cast to column dtypes).
    */
  def append(spark: SparkSession, df: DataFrame, order: OrderMode = AsIs,
      lineage: String = "", cfg: CodecConfig = CodecConfig.default): Long = {
    val s = snapshot.spec
    val names = df.columns.toSet
    val seg = claimSegment(lineage)
    val expect = s.columns.filter(_.addedAtSegment <= seg).map(_.name).toSet
    require(names == expect,
      s"appended data columns $names != table columns $expect " +
        "(reference rejects mismatched column sets, columns.py:619-627)")
    writeSegment(spark, df, s, seg, order, lineage, cfg)
    seg
  }

  /** Next segment number, ignoring claims — used only for schema-evolution
    * bookkeeping (`addedAtSegment`), never for allocating a write target
    * (writes go through [[claimSegment]]).
    */
  private[graft] def nextSegment: Long = {
    val dirs = FsIO.list(s"$root/${Format.SegmentsDir}")
      .filter(_.startsWith("seg")).map(_.drop(3).toLong)
    val committed = segments.toSet
    val orphans = dirs.filterNot(committed)
    if (orphans.nonEmpty) orphans.min
    else if (dirs.isEmpty) 0L
    else dirs.max + 1
  }

  /** Atomically CLAIM the segment a write will target — optimistic
    * concurrency for simultaneous writers (beyond the single-process
    * reference). The claim is a create-exclusive marker inside the segment
    * dir: two appends that both compute the same next number race on the
    * create and exactly one wins; the loser advances to the next number.
    * Concurrent appends can therefore never interleave partition files
    * inside one segment.
    *
    * Resume contract: the claim records the append's identity. A NON-empty
    * lineage identifies a logical job — an uncommitted segment whose claim
    * matches it is our own interrupted attempt (streaming batch replay,
    * retried named appends), re-entered so the partition manifests
    * resume-skip completed work. Anonymous appends (empty lineage) claim
    * under a random identity: they never resume across processes, and —
    * unlike the previous orphan-reuse heuristic — a FAILED anonymous
    * append's partial segment can no longer be silently absorbed into an
    * unrelated later append.
    */
  private[graft] def claimSegment(lineage: String): Long = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val ident =
      if (lineage.nonEmpty) s"lineage:$lineage"
      else s"anon:${java.util.UUID.randomUUID()}"
    def claimPath(seg: Long) = s"${Format.segDir(root, seg)}/_claim.bin"
    // Two-phase claim: "pending" until any FOREIGN content of the dir is
    // wiped (a pre-claim-format store may hold a dead append's checkpointed
    // partition manifests — resume-skip would silently absorb its rows),
    // then "ready". A crash between claim and clean re-enters through the
    // pending state and cleans again before any of OUR work exists.
    def wipeForeign(seg: Long): Unit = {
      val d = Format.segDir(root, seg)
      FsIO.list(d).filterNot(_ == "_claim.bin")
        .foreach(f => FsIO.delete(s"$d/$f", recursive = true))
    }
    def markReady(seg: Long): Unit =
      FsIO.writeAtomic(claimPath(seg), s"$ident\nready".getBytes(utf8))
    val dirs = FsIO.list(s"$root/${Format.SegmentsDir}")
      .filter(_.startsWith("seg")).map(_.drop(3).toLong).sorted
    val committed = segments.toSet
    val orphans = dirs.filterNot(committed)
    if (lineage.nonEmpty) {
      orphans.foreach { o =>
        val content =
          try {
            if (FsIO.exists(claimPath(o)))
              Some(new String(FsIO.readAll(claimPath(o)), utf8).split('\n').toSeq)
            else None
          } catch { case _: Exception => None }
        content.foreach { lines =>
          if (lines.headOption.contains(ident)) {
            // our interrupted attempt: finish a crashed clean, then resume
            if (lines.lift(1).contains("pending")) { wipeForeign(o); markReady(o) }
            return o
          }
        }
      }
    }
    // claim an unclaimed orphan (pre-claim-format store, or a crash between
    // mkdirs and claim), else the next fresh number; a lost race advances
    var unclaimed = orphans.filter(o => !FsIO.exists(claimPath(o)))
    var next = if (dirs.isEmpty) 0L else dirs.max + 1
    var attempts = 0
    while (attempts < 1000) {
      val seg =
        if (unclaimed.nonEmpty) { val h = unclaimed.head; unclaimed = unclaimed.tail; h }
        else { val s = next; next += 1; s }
      FsIO.mkdirs(Format.segDir(root, seg))
      try {
        FsIO.createExclusive(claimPath(seg), s"$ident\npending".getBytes(utf8))
        wipeForeign(seg) // no-op for a fresh dir; wipes legacy partials
        markReady(seg)
        return seg
      } catch { case _: java.io.IOException => attempts += 1 }
    }
    throw new IllegalStateException(
      s"could not claim a segment in $root after 1000 attempts")
  }

  /** Cast-on-write (pycolumns util.get_data_with_conversion, util.py:412-428)
    * including numpy fixed-width truncation: int→'U5' keeps 5 chars
    * (tests/test_access.py:169-182).
    */
  private def normalize(df: DataFrame, s: TableSpec): DataFrame = {
    val cols = s.columns.filter(c => df.columns.contains(c.name)).map { c =>
      val base = col(c.name).cast(sparkType(c.ptype))
      val trunc =
        if (c.fixedWidth > 0 && c.ptype == PType.STR) substring(base, 1, c.fixedWidth)
        else if (c.fixedWidth > 0 && c.ptype == PType.BIN) substring(base, 1, c.fixedWidth)
        else base
      trunc.as(c.name)
    }
    df.select(cols: _*)
  }

  private def writeSegment(spark: SparkSession, df0: DataFrame, s: TableSpec, seg: Long,
      order: OrderMode, lineage: String, cfg: CodecConfig): Unit = {
    val df1 = normalize(df0, s)
    val df = order match {
      case ByKey(key, n) =>
        df1.repartitionByRange(n, col(key)).sortWithinPartitions(col(key))
      case ByKeySalted(key, n, salts) =>
        // salt spreads skewed key ranges over partitions; global key order
        // is preserved because the salt only splits equal-key runs
        df1.withColumn("_salt", pmod(xxhash64(df1.columns.map(col): _*), lit(salts)))
          .repartitionByRange(n, col(key), col("_salt"))
          .sortWithinPartitions(col(key), col("_salt"))
          .drop("_salt")
      case AsIs => df1
    }
    val segDir = Format.segDir(root, seg)
    FsIO.mkdirs(segDir)
    val specB = s
    val rootB = root
    // unboxed path: execute the plan to InternalRows (datasource-style) and
    // encode per partition; runJob returns results in partition order
    val manifests: Array[(Int, Array[Byte])] = Jobs.described(spark, s"append seg$seg") {
      val rdd = df.queryExecution.toRdd
      spark.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) =>
        ColumnStore.encodePartition(it, specB,
          s"$rootB/${Format.SegmentsDir}/seg$seg", seg, lineage, cfg))
    }
    // commit: per-partition row counts in partition-id order fix the global
    // row-id assignment (SURVEY.md §7.5(6)). The consolidated manifest goes
    // first so a segment with a commit record always has one.
    ColumnStore.commitSegment(root, seg, manifests.toSeq, lineage)
  }

  // ---------------------------------------------------------------- read

  /** Read selected columns/rows back as a DataFrame with `_row_id` (and
    * `_pos` for id-list gathers). Chunk pruning against the manifest
    * rowstart/nrows zone map happens here, on the driver, before any task
    * launches — the Spark analogue of the reference's chunk binary search.
    * A read within `Decode.driverBound` is decoded right here into a local
    * frame (collecting it, or a projection or limit of it, runs no job);
    * a larger one decodes each unit in a task. Both use the columnar reader
    * the DSv2 scan uses.
    */
  def read(spark: SparkSession, columns: Seq[String] = Seq.empty,
      sel: Selection = SelAll, emptyMeansAll: Boolean = true): DataFrame = {
    val snap = snapshot
    val s = snap.spec
    val (units, wanted) = snap.planUnits(columns, sel, emptyMeansAll)
    val ids = if (sel.isInstanceOf[SelIds]) Seq("_row_id", "_pos") else Seq("_row_id")
    val schema = StructType(ids.map(StructField(_, LongType, nullable = false)) ++
      wanted.map(cn => StructField(cn, sparkType(s.col(cn).ptype), nullable = false)))
    val outFields = ids ++ wanted
    if (Decode.fitsDriver(units, wanted)) {
      val copy = InterpretedUnsafeProjection.createProjection(schema.fields.toSeq.zipWithIndex
        .map { case (f, i) => BoundReference(i, f.dataType, f.nullable) })
      val rows = Array.newBuilder[InternalRow]
      Decode.onDriver(units, s, outFields)(r => rows += copy(r).copy())
      return org.apache.spark.sql.graft.InternalRows.local(spark, rows.result().toSeq, schema)
    }
    val rdd = spark.sparkContext
      .parallelize(units, math.max(1, units.size))
      .mapPartitions(_.flatMap { u =>
        val reader = new Decode.ColumnarUnitReader(u, s, outFields)
        TaskContext.get().addTaskCompletionListener[Unit](_ => reader.close())
        reader.rows
      })
    org.apache.spark.sql.graft.InternalRows.toDataFrame(spark, rdd, schema)
  }

  // ---------------------------------------------------------------- meta

  def metaNames: Seq[String] =
    FsIO.list(s"$root/${Format.MetaDir}").filter(_.endsWith(".bin"))
      .map(_.stripSuffix(".bin"))

  /** Meta entries are arbitrary JSON trees (pycolumns Meta accepts any
    * JSON-serializable value, metafile.py:5-99) stored as UTF-8 JSON text.
    */
  def metaWrite(name: String, data: JVal): Unit =
    FsIO.writeAtomic(s"$root/${Format.MetaDir}/$name.bin",
      Json.render(data).getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def metaRead(name: String): JVal =
    Json.parse(new String(FsIO.readAll(s"$root/${Format.MetaDir}/$name.bin"),
      java.nio.charset.StandardCharsets.UTF_8))

  /** Dict-update semantics (pycolumns Meta.update, metafile.py:85-99):
    * top-level keys of `data` overwrite/extend the stored object.
    */
  def metaUpdate(name: String, data: JObj): JVal = {
    val merged = metaRead(name) match {
      case o: JObj => o.updated(data)
      case _ => throw new IllegalArgumentException(
        s"meta '$name' is not an object; update requires dict semantics")
    }
    metaWrite(name, merged)
    merged
  }

  def metaDelete(name: String): Unit =
    FsIO.delete(s"$root/${Format.MetaDir}/$name.bin")

  // ------------------------------------------------------------- evolve

  /** Add a column back-filled with a fill value for all existing rows
    * (pycolumns create_column + fill, columns.py:471-485, column.py:312-344).
    */
  def addColumn(c: ColumnSpec): Unit = {
    val s = snapshot.spec
    require(!s.colNames.contains(c.name), s"column ${c.name} exists")
    writeSpec(s.copy(columns = s.columns :+ c.copy(addedAtSegment = nextSegment)))
    Snapshot.publish(root, Change.Update(Set(c.name)))
  }

  /** Delete a column: schema entry dropped, chunk files removed. Stale
    * manifest entries for the column are harmless (readers resolve chunks
    * by requested column names only).
    */
  def dropColumn(name: String): Unit = {
    val snap = snapshot
    val s = snap.spec
    require(s.colNames.contains(name), s"no such column $name")
    require(s.columns.size > 1, "cannot drop the last column")
    writeSpec(s.copy(columns = s.columns.filterNot(_.name == name)))
    for (seg <- snap.segments) {
      val dir = Format.segDir(root, seg)
      FsIO.list(dir)
        .filter(f => f.matches(
          s"p\\d+\\.${java.util.regex.Pattern.quote(name)}(\\.c\\d+\\.v\\d+|\\.g\\d+)?\\.bin"))
        .foreach(f => FsIO.delete(s"$dir/$f"))
    }
    FsIO.delete(s"$root/${Format.IndexDir}/$name", recursive = true)
    Snapshot.publish(root, Change.Reshape)
  }

  private def writeSpec(s: TableSpec): Unit =
    FsIO.writeAtomic(s"$root/${Format.SchemaFile}", BinCodec.writeTableSpec(s))

  def dropStore(): Unit = { FsIO.delete(root, recursive = true); Snapshot.forget(root) }
}
