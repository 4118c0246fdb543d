package graft.store

import graft.codec._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.vectorized.ColumnarBatch
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Chunk decode for one (segment, partition) unit.
  * Mirrors the reference read path (pycolumns chunks.py:633-669: histogram
  * rows per chunk, decompress each touched chunk once, slice rows out) —
  * here each unit decodes its pruned chunk list sequentially. Every read
  * surface (DSv2 scan, `ColumnStore.read`, ordered scan, the driver-side
  * index build) decodes through [[ColumnarUnitReader]], in a task or, for
  * a driver-sized read, on the driver ([[onDriver]]).
  */
object Decode {

  /** Chunk integrity checking on read (CRC32C vs the manifest), enabled
    * with -Dgraft.verify.crc=true. Off by default: the reference does not
    * checksum reads either, and the cost is ~15%% of decode time.
    */
  private val verifyCrc: Boolean =
    java.lang.Boolean.getBoolean("graft.verify.crc")

  /** Diagnostic counters, JVM-local (exact under local[*], per-executor on
    * a cluster): chunk payloads read+decoded, and chunks skipped by a
    * membership-filter probe. Tests and the driver correctness queries use
    * them to assert that pruning actually engaged.
    */
  val chunksRead = new java.util.concurrent.atomic.AtomicLong()
  val chunksFilterSkipped = new java.util.concurrent.atomic.AtomicLong()

  /** Fail unless the chunk at the head of `buf` (its first `cm.nbytes`
    * bytes) matches the CRC32C its manifest entry recorded.
    */
  def verifyChunk(cm: ChunkMeta, buf: Array[Byte]): Unit = {
    val crc = FsIO.crc32c(buf, 0, cm.nbytes.toInt)
    require(crc == cm.crc,
      s"chunk CRC mismatch in ${cm.file} @${cm.offset}: " +
        f"manifest ${cm.crc}%08x, read $crc%08x (corruption or torn write)")
  }

  /** Per-unit file handle cache: a unit decodes many chunks from the same
    * column file — open it ONCE and issue positioned reads, instead of an
    * open/close round-trip per chunk (on an object store, per-chunk opens
    * dominate the read path).
    */
  private final class BlobReader(root: String, segment: Long) {
    private val dir = Format.segDir(root, segment)
    private val open = mutable.HashMap.empty[String, org.apache.hadoop.fs.FSDataInputStream]
    var reads = 0

    def read(cm: ChunkMeta): Array[Byte] = {
      chunksRead.incrementAndGet()
      reads += 1
      val in = open.getOrElseUpdate(cm.file,
        FsIO.fs(dir).open(new org.apache.hadoop.fs.Path(s"$dir/${cm.file}")))
      val buf = new Array[Byte](cm.nbytes.toInt)
      in.readFully(cm.offset, buf)
      if (verifyCrc) verifyChunk(cm, buf)
      buf
    }

    def close(): Unit = {
      open.valuesIterator.foreach(in => try in.close() catch { case _: Exception => })
      open.clear()
    }
  }

  // ------------------------------------------- membership-filter pruning

  /** Refine a unit against equality/IN probe hashes (per-chunk
    * membership filters) BEFORE any chunk decode. The scan runs it on the
    * driver at planning, reading each few-KB filter blob through
    * `filterOf` (a cache over [[readFilter]]), so a point read plans only
    * the chunks that can hold its key. Returns None when every row of the
    * unit is provably excluded (no task, no chunk read).
    *
    * Sound because pushed filters are top-level conjuncts and every probe
    * hash is canonical (see GraftScan.filterProbes): a chunk whose filter
    * excludes ALL probe values of some conjunct can satisfy none of the
    * unit's rows in that chunk's row range. Chunks without filters (bool/
    * binary kinds, or written with chunk filters off) and unreadable/corrupt
    * filters survive conservatively; Spark re-applies every filter as
    * residual.
    */
  def refineUnit(u: DecodeUnit, probes: Seq[(String, Array[Long])],
      filterOf: ChunkMeta => Array[Byte]): Option[DecodeUnit] = {
    if (probes.isEmpty) return Some(u)
    u.sel match {
      case SelIds(_, _) => return Some(u) // id-gather paths keep their contract
      case SelRange(_, _, step) if step != 1L => return Some(u) // refined ranges are step 1
      case _ => ()
    }
    val unitSpan = (u.globalOffset, u.globalOffset + u.partRows)
    var ranges: Seq[(Long, Long)] = u.sel match {
      case SelAll => Seq(unitSpan)
      case SelRange(a, b, _) =>
        Seq((math.max(a, unitSpan._1), math.min(b, unitSpan._2))).filter(r => r._1 < r._2)
      case SelRanges(as, bs) =>
        Ranges.merge(as.indices.map(i => (math.max(as(i), unitSpan._1),
          math.min(bs(i), unitSpan._2))).filter(r => r._1 < r._2))
      case _ => Seq(unitSpan)
    }
    var pruned = false
    // conjuncts grouped per column so each chunk's filter blob is read ONCE
    // and tested against every probe set (a pushed IN plus a runtime join
    // filter on the same key must not double the ranged reads)
    probes.groupBy(_._1).foreach { case (colName, entries) =>
      val probeSets = entries.map(_._2)
      if (ranges.nonEmpty) u.colChunks.get(colName).filter(_.nonEmpty).foreach { chunks =>
        val surviving = chunks.filter { cm =>
          val keep =
            if (cm.filterKind != 1 || cm.filterBytes <= 0) true
            else try {
              val f = filterOf(cm)
              // chunk survives iff EVERY conjunct finds some probe present
              probeSets.forall(MemberFilter.mightContainAny(f, _))
            } catch { case _: Exception => true } // unreadable -> conservative
          if (!keep) { pruned = true; chunksFilterSkipped.incrementAndGet() }
          keep
        }
        val survRanges = Ranges.merge(surviving.map(cm =>
          (u.globalOffset + cm.rowStartLocal,
            u.globalOffset + cm.rowStartLocal + cm.nrows)))
        ranges = Ranges.intersect(ranges, survRanges)
      }
    }
    if (!pruned) return Some(u)
    if (ranges.isEmpty) return None
    val newSel: Selection =
      if (ranges.size == 1) SelRange(ranges.head._1, ranges.head._2, 1L)
      else SelRanges(ranges.map(_._1).toArray, ranges.map(_._2).toArray)
    val newCols = u.colChunks.map { case (cn, chunks) =>
      cn -> chunks.filter { cm =>
        val lo = u.globalOffset + cm.rowStartLocal
        val hi = lo + cm.nrows
        ranges.exists(r => r._1 < hi && r._2 > lo)
      }
    }
    Some(u.copy(colChunks = newCols, sel = newSel))
  }

  /** `cm`'s membership-filter blob, read from `u`'s segment. */
  def readFilter(u: DecodeUnit)(cm: ChunkMeta): Array[Byte] =
    FsIO.readRange(s"${Format.segDir(u.root, u.segment)}/${cm.file}", cm.filterOffset,
      cm.filterBytes.toInt)

  // ------------------------------------------------------ driver-side read

  /** Rows and raw bytes a read may decode on the driver, and an index
    * build, refresh, consult or top-N may handle there: the index's driver
    * constants. A thread-scoped value so tests can force the distributed
    * path (a bound of 0 rows sends every non-empty read there).
    */
  private[graft] val driverBound = new scala.util.DynamicVariable[(Long, Long)](
    (graft.index.Index.DriverRows.toLong, graft.index.Index.DriverBytes))

  /** Rows `u`'s selection holds. */
  def unitRows(u: DecodeUnit): Long = {
    val (off, end) = (u.globalOffset, u.globalOffset + u.partRows)
    u.sel match {
      case SelAll => u.partRows
      case SelIds(ids, _) => ids.length.toLong
      case SelRange(start, stop, step) =>
        val lo = math.max(start, off)
        val first = start + (math.max(0L, lo - start) + step - 1) / step * step
        val hi = math.min(stop, end)
        if (first >= hi) 0L else (hi - 1 - first) / step + 1
      case SelRanges(as, bs) =>
        as.indices.iterator.map(i => math.max(0L, math.min(bs(i), end) - math.max(as(i), off))).sum
    }
  }

  /** Do `units` fit the driver bound, decoding `columns`: rows selected,
    * and raw bytes of those columns' chunks (a chunk decodes whole)?
    */
  def fitsDriver(units: Seq[DecodeUnit], columns: Seq[String]): Boolean = {
    val (maxRows, maxBytes) = driverBound.value
    units.iterator.map(unitRows).sum <= maxRows &&
      units.iterator.flatMap(u => columns.iterator.flatMap(u.colChunks.getOrElse(_, Nil)))
        .map(_.rawBytes).sum <= maxBytes
  }

  /** Decode `units` on the calling thread, through the same reader as the
    * tasks (so checksummed reads stay checksummed), handing every selected
    * row — as `outFields` — to `f`. The row object is reused: copy to keep
    * it. Returns the chunks read.
    */
  def onDriver(units: Seq[DecodeUnit], spec: TableSpec, outFields: Seq[String])(
      f: InternalRow => Unit): Int =
    units.iterator.map { u =>
      val r = new ColumnarUnitReader(u, spec, outFields)
      try { r.rows.foreach(f); r.chunksDecoded } finally r.close()
    }.sum

  /** Default/parsed fill value for columns added after this segment
    * (pycolumns backfill: 0 / '' / fill_value, column.py:312-344).
    */
  def fillValue(cs: ColumnSpec): Any = {
    val f = cs.fill
    cs.ptype match {
      case PType.I64 => f.map(_.toLong).getOrElse(0L)
      case PType.I32 => f.map(_.toInt).getOrElse(0)
      case PType.I16 => f.map(_.toShort).getOrElse(0.toShort)
      case PType.F64 => f.map(_.toDouble).getOrElse(0.0)
      case PType.F32 => f.map(_.toFloat).getOrElse(0.0f)
      case PType.BOOL => f.exists(_.toBoolean)
      case PType.STR => f.getOrElse("")
      case PType.BIN => f.map(_.getBytes("UTF-8")).getOrElse(Array.empty[Byte])
      case PType.I32LIST => Seq.empty[Int]
    }
  }

  /** Selected local row indices for a unit, ascending, with output
    * positions (for SelIds request-order reconstruction).
    */
  private def selectedLocals(u: DecodeUnit): (Array[Long], Array[Long]) = u.sel match {
    case SelAll =>
      val n = u.partRows.toInt
      val loc = new Array[Long](n)
      var i = 0
      while (i < n) { loc(i) = i; i += 1 }
      (loc, null)
    case SelRange(start, stop, step) =>
      val lo = math.max(start, u.globalOffset)
      val hi = math.min(stop, u.globalOffset + u.partRows)
      val out = mutable.ArrayBuilder.make[Long]
      // first gid >= lo on the step grid anchored at start
      val k0 = if (lo <= start) 0L else (lo - start + step - 1) / step
      var gid = start + k0 * step
      while (gid < hi) {
        out += gid - u.globalOffset
        gid += step
      }
      (out.result(), null)
    case SelRanges(starts, stops) =>
      val out = mutable.ArrayBuilder.make[Long]
      var i = 0
      while (i < starts.length) {
        var gid = math.max(starts(i), u.globalOffset)
        val hi = math.min(stops(i), u.globalOffset + u.partRows)
        while (gid < hi) {
          out += gid - u.globalOffset
          gid += 1
        }
        i += 1
      }
      (out.result(), null)
    case SelIds(ids, pos) =>
      // sorted disk order (the reference's sortind gather,
      // _column_pywrap.c:616-668); positions scatter results back
      val order = ids.indices.sortBy(ids(_))
      val loc = new Array[Long](ids.length)
      val p = new Array[Long](ids.length)
      var i = 0
      order.foreach { oi =>
        loc(i) = ids(oi) - u.globalOffset
        p(i) = pos(oi)
        i += 1
      }
      (loc, p)
  }

  // ------------------------------------------------------- columnar batch

  /** The one chunk decoder: decoded chunk arrays are bulk-copied into
    * OnHeapColumnVectors (putLongs/putInts/... — no per-value boxing, no
    * per-row object), emitted as ColumnarBatches of ≤ `batchRows` rows.
    * Chunks spanning a batch boundary stay decoded in a one-chunk cache
    * per column, so each chunk is decompressed exactly once per scan.
    *
    * `outFields` names the output columns in order: table columns, plus
    * `_row_id` and — for SelIds units — `_pos`, the request position of
    * each row. Rows come out in ascending row-id order. The chunk files
    * close once the last batch is built.
    */
  final class ColumnarUnitReader(u: DecodeUnit, spec: TableSpec,
      outFields: Seq[String], batchRows: Int = 1 << 16)
      extends Iterator[ColumnarBatch] with AutoCloseable {
    import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
    import org.apache.spark.sql.types.LongType

    private val (locals, positions) = selectedLocals(u)
    require(positions != null || !outFields.contains("_pos"),
      "_pos is defined only for SelIds units")
    private val n = locals.length
    // id gathers may repeat an id; a span of them is never one bulk copy
    private val noRepeats = !u.sel.isInstanceOf[SelIds] ||
      (1 until n).forall(i => locals(i) != locals(i - 1))
    private val reader = new BlobReader(u.root, u.segment)
    private var pos = 0
    private var lastBatch: ColumnarBatch = _

    private final class ColCursor(val cs: ColumnSpec, chunks: Seq[ChunkMeta]) {
      val sorted: IndexedSeq[ChunkMeta] = chunks.sortBy(_.rowStartLocal).toIndexedSeq
      var ci = 0
      var cached: ColVec = _
      var cachedIdx: Int = -1
      var cachedOffsets: Array[Int] = _ // list columns: prefix offsets

      def chunkFor(local: Long): (ChunkMeta, ColVec) = {
        while (ci < sorted.length &&
          local >= sorted(ci).rowStartLocal + sorted(ci).nrows) ci += 1
        require(ci < sorted.length && local >= sorted(ci).rowStartLocal,
          s"selection not covered by chunks for column ${cs.name} in " +
            s"seg=${u.segment} part=${u.part}")
        if (cachedIdx != ci) {
          cached = Chunk.decode(reader.read(sorted(ci)))
          cachedIdx = ci
          cachedOffsets = cached match {
            case IntListVec(lengths, _) =>
              val o = new Array[Int](lengths.length + 1)
              var i = 0
              while (i < lengths.length) { o(i + 1) = o(i) + lengths(i); i += 1 }
              o
            case _ => null
          }
        }
        (sorted(ci), cached)
      }
    }

    private val cursors: Array[ColCursor] = outFields.map {
      case "_row_id" | "_pos" => null
      case f => new ColCursor(spec.col(f), u.colChunks(f))
    }.toArray

    override def hasNext: Boolean = pos < n

    override def next(): ColumnarBatch = {
      val from = pos
      val until = math.min(n, pos + batchRows)
      val cnt = until - from
      val vectors = outFields.zipWithIndex.map { case (f, vi) =>
        val cur = cursors(vi)
        val vec = new OnHeapColumnVector(cnt,
          if (cur == null) LongType else ColumnStore.sparkType(cur.cs.ptype))
        f match {
          case "_row_id" =>
            var i = 0
            while (i < cnt) { vec.putLong(i, u.globalOffset + locals(from + i)); i += 1 }
          case "_pos" => vec.putLongs(0, cnt, positions, from)
          case _ => fill(cur, vec, from, until)
        }
        vec: org.apache.spark.sql.vectorized.ColumnVector
      }.toArray
      pos = until
      if (pos == n) reader.close() // every chunk this unit needs is decoded
      lastBatch = new ColumnarBatch(vectors, cnt)
      lastBatch
    }

    /** The batches as rows. Each row object is reused: copy to keep one. */
    def rows: Iterator[InternalRow] = flatMap(_.rowIterator().asScala)

    /** Chunks read so far. */
    def chunksDecoded: Int = reader.reads

    private def fill(cur: ColCursor, vec: WritableColumnVector,
        from: Int, until: Int): Unit = {
      if (cur.sorted.isEmpty) { fillConstant(cur.cs, vec, until - from); return }
      var k = from
      while (k < until) {
        val (cm, cv) = cur.chunkFor(locals(k))
        val lo = cm.rowStartLocal
        val hi = lo + cm.nrows
        // span of this batch covered by the current chunk
        var j = k
        while (j < until && locals(j) < hi) j += 1
        val cnt = j - k
        val off = (locals(k) - lo).toInt
        // bulk path when the selected span is a contiguous run of rows
        val contiguous = noRepeats && locals(j - 1) - locals(k) == (j - 1 - k).toLong
        cv match {
          case LongVec(a) =>
            if (contiguous) vec.putLongs(k - from, cnt, a, off)
            else { var t = k; while (t < j) { vec.putLong(t - from, a((locals(t) - lo).toInt)); t += 1 } }
          case IntVec(a) =>
            if (contiguous) vec.putInts(k - from, cnt, a, off)
            else { var t = k; while (t < j) { vec.putInt(t - from, a((locals(t) - lo).toInt)); t += 1 } }
          case ShortVec(a) =>
            if (contiguous) vec.putShorts(k - from, cnt, a, off)
            else { var t = k; while (t < j) { vec.putShort(t - from, a((locals(t) - lo).toInt)); t += 1 } }
          case DoubleVec(a) =>
            if (contiguous) vec.putDoubles(k - from, cnt, a, off)
            else { var t = k; while (t < j) { vec.putDouble(t - from, a((locals(t) - lo).toInt)); t += 1 } }
          case FloatVec(a) =>
            if (contiguous) vec.putFloats(k - from, cnt, a, off)
            else { var t = k; while (t < j) { vec.putFloat(t - from, a((locals(t) - lo).toInt)); t += 1 } }
          case BoolVec(a) =>
            var t = k
            while (t < j) { vec.putBoolean(t - from, a((locals(t) - lo).toInt)); t += 1 }
          case StrVec(a) =>
            var t = k
            while (t < j) {
              vec.putByteArray(t - from,
                a((locals(t) - lo).toInt).getBytes(java.nio.charset.StandardCharsets.UTF_8))
              t += 1
            }
          case Utf8Vec(b) => // raw decode-side bytes: no per-row transcode
            var t = k
            while (t < j) { vec.putByteArray(t - from, b((locals(t) - lo).toInt)); t += 1 }
          case BinVec(a) =>
            var t = k
            while (t < j) { vec.putByteArray(t - from, a((locals(t) - lo).toInt)); t += 1 }
          case l: IntListVec =>
            val child = vec.arrayData()
            var t = k
            while (t < j) {
              val r = (locals(t) - lo).toInt
              val start = child.appendInts(l.lengths(r), l.values, cur.cachedOffsets(r))
              vec.putArray(t - from, start, l.lengths(r))
              t += 1
            }
        }
        k = j
      }
    }

    private def fillConstant(cs: ColumnSpec, vec: WritableColumnVector, cnt: Int): Unit =
      fillValue(cs) match {
        case v: Long => vec.putLongs(0, cnt, v)
        case v: Int => vec.putInts(0, cnt, v)
        case v: Short => vec.putShorts(0, cnt, v)
        case v: Double => vec.putDoubles(0, cnt, v)
        case v: Float => vec.putFloats(0, cnt, v)
        case v: Boolean => vec.putBooleans(0, cnt, v)
        case v: String =>
          val b = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var i = 0
          while (i < cnt) { vec.putByteArray(i, b); i += 1 }
        case v: Array[Byte] =>
          var i = 0
          while (i < cnt) { vec.putByteArray(i, v); i += 1 }
        case _: Seq[_] => // empty token list fill
          var i = 0
          while (i < cnt) { vec.putArray(i, 0, 0); i += 1 }
        case other => throw new IllegalStateException(s"fill $other")
      }

    override def close(): Unit = {
      reader.close()
      if (lastBatch != null) lastBatch.close()
    }
  }
}
