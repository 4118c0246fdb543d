package graft.store

import graft.codec._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Scatter updates and compaction.
  *
  * The reference updates compressed chunks in place, spilling to external
  * files when the recompressed chunk outgrows its slot
  * (/root/reference/pycolumns/chunks.py:721-770), and `vacuum()` rewrites
  * everything contiguous (chunks.py:182-243). Our chunks are immutable:
  * an update writes a NEW chunk file version + a new manifest version
  * (copy-on-write), and vacuum rewrites updated partitions into fresh base
  * files and drops dead versions — same observable semantics
  * (read-after-write equality; storage shrinks after vacuum, data
  * identical: tests/test_vacuum.py:40-51), no in-place rewrites ever.
  */
object Mutate {

  private[store] def vecToAny(vec: ColVec): Array[Any] = {
    val n = vec.n
    val out = new Array[Any](n)
    vec match {
      case LongVec(a) => var i = 0; while (i < n) { out(i) = a(i); i += 1 }
      case IntVec(a) => var i = 0; while (i < n) { out(i) = a(i); i += 1 }
      case ShortVec(a) => var i = 0; while (i < n) { out(i) = a(i); i += 1 }
      case DoubleVec(a) => var i = 0; while (i < n) { out(i) = a(i); i += 1 }
      case FloatVec(a) => var i = 0; while (i < n) { out(i) = a(i); i += 1 }
      case BoolVec(a) => var i = 0; while (i < n) { out(i) = a(i); i += 1 }
      case StrVec(a) => var i = 0; while (i < n) { out(i) = a(i); i += 1 }
      case Utf8Vec(b) =>
        var i = 0
        while (i < n) {
          out(i) = new String(b(i), java.nio.charset.StandardCharsets.UTF_8)
          i += 1
        }
      case BinVec(a) => var i = 0; while (i < n) { out(i) = a(i); i += 1 }
      case l: IntListVec =>
        var off = 0
        var i = 0
        while (i < n) {
          val len = l.lengths(i)
          val row = new Array[Int](len)
          System.arraycopy(l.values, off, row, 0, len)
          out(i) = row
          off += len
          i += 1
        }
    }
    out
  }

  private[store] def anyToVec(pt: PType.PType, vals: Array[Any]): ColVec = {
    val n = vals.length
    pt match {
      case PType.I64 => LongVec(Array.tabulate(n)(i => vals(i).asInstanceOf[Number].longValue))
      case PType.I32 => IntVec(Array.tabulate(n)(i => vals(i).asInstanceOf[Number].intValue))
      case PType.I16 => ShortVec(Array.tabulate(n)(i => vals(i).asInstanceOf[Number].shortValue))
      case PType.F64 => DoubleVec(Array.tabulate(n)(i => vals(i).asInstanceOf[Number].doubleValue))
      case PType.F32 => FloatVec(Array.tabulate(n)(i => vals(i).asInstanceOf[Number].floatValue))
      case PType.BOOL => BoolVec(Array.tabulate(n)(i => vals(i).asInstanceOf[Boolean]))
      case PType.STR => StrVec(Array.tabulate(n)(i => vals(i).asInstanceOf[String]))
      case PType.BIN => BinVec(Array.tabulate(n)(i => vals(i).asInstanceOf[Array[Byte]]))
      case PType.I32LIST =>
        val rows = vals.map {
          case a: Array[Int] => a
          case s: scala.collection.Seq[_] => s.map(_.asInstanceOf[Number].intValue).toArray
        }
        IntListVec(rows.map(_.length), rows.flatten)
    }
  }

  /** Cast an update value to the column type, mirroring cast-on-write
    * (numpy coercion incl. fixed-width string truncation,
    * pycolumns util.py:412-428, tests/test_access.py:169-182).
    */
  private[store] def castValue(cs: ColumnSpec, v: Any): Any = {
    def str(x: Any): String = {
      val s = x.toString
      if (cs.fixedWidth > 0 && s.length > cs.fixedWidth) s.substring(0, cs.fixedWidth) else s
    }
    cs.ptype match {
      case PType.I64 => v.asInstanceOf[Number].longValue
      case PType.I32 => v.asInstanceOf[Number].intValue
      case PType.I16 => v.asInstanceOf[Number].shortValue
      case PType.F64 => v.asInstanceOf[Number].doubleValue
      case PType.F32 => v.asInstanceOf[Number].floatValue
      case PType.BOOL => v.asInstanceOf[Boolean]
      case PType.STR => str(v)
      case PType.BIN => v match {
        case b: Array[Byte] =>
          if (cs.fixedWidth > 0 && b.length > cs.fixedWidth) java.util.Arrays.copyOf(b, cs.fixedWidth) else b
        case s: String => castValue(cs, s.getBytes("UTF-8"))
      }
      case PType.I32LIST => v match {
        case a: Array[Int] => a
        case s: scala.collection.Seq[_] => s.map(_.asInstanceOf[Number].intValue).toArray
      }
    }
  }

  final case class PartUpdate(
      root: String,
      seg: Long,
      part: Int,
      colName: String,
      localIds: Array[Long],
      values: Array[Any]) extends Serializable

  /** Index of the partition (or chunk) holding row `id`, given their
    * ascending first rows: binary search, O(log P) per id.
    */
  private def partOf(starts: Array[Long], id: Long): Int = {
    var lo = 0
    var hi = starts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (starts(mid) <= id) lo = mid + 1 else hi = mid
    }
    lo - 1
  }

  /** Scatter update: col[ids] = values (P5). Values aligned with ids, or a
    * single scalar broadcast over all ids. Each touched partition is one
    * copy-on-write rewrite; they run on the driver when the chunks they
    * rewrite fit `Decode.driverBound` (the rows and raw bytes of the touched
    * chunks, or of a backfilled column's whole partition), else in one job
    * (see [[Jobs.run]]).
    */
  def update(spark: SparkSession, store: ColumnStore, colName: String,
      ids: Array[Long], values: Array[Any]): Unit = {
    val snap = store.snapshot
    val s = snap.spec
    val cs = s.col(colName)
    require(values.length == ids.length || values.length == 1,
      s"${values.length} values for ${ids.length} rows")
    val total = snap.nrows
    ids.foreach(id => require(id >= 0 && id < total,
      s"row id $id out of bounds [0, $total) " +
        "(reference raises IndexError, _column_pywrap.c bounds checks)"))
    val cast = values.map(castValue(cs, _))
    val offs = snap.partOffsets
    // binary-search each id's partition: O(ids log P + P), not O(P × ids)
    val starts = offs.map(_._3).toArray
    val byPid = mutable.LinkedHashMap.empty[Int, (mutable.ArrayBuilder[Long], mutable.ArrayBuffer[Any])]
    var i = 0
    while (i < ids.length) {
      val pid = partOf(starts, ids(i))
      val slot = byPid.getOrElseUpdate(pid,
        (mutable.ArrayBuilder.make[Long], mutable.ArrayBuffer.empty[Any]))
      slot._1 += ids(i) - offs(pid)._3
      slot._2 += (if (cast.length == 1) cast(0) else cast(i))
      i += 1
    }
    val tasks = byPid.toSeq.map { case (pid, (li, lv)) =>
      PartUpdate(store.root, offs(pid)._1, offs(pid)._2, colName, li.result(), lv.toArray)
    }
    if (tasks.isEmpty) return
    val fillBytes = rawBytes(Decode.fillValue(cs))
    // the rows and raw bytes of the chunks each task rewrites, and of its
    // new values
    val sizes = tasks.map { t =>
      val m = snap.partManifest(t.seg, t.part)
      val chunks = m.chunks.filter(_.column == colName).sortBy(_.rowStartLocal).toArray
      val values = t.values.iterator.map(rawBytes).sum
      if (chunks.isEmpty) (m.nrows, m.nrows * fillBytes + values)
      else {
        val starts = chunks.map(_.rowStartLocal)
        val hit = t.localIds.map(partOf(starts, _)).distinct.map(chunks)
        (hit.map(_.nrows.toLong).sum, hit.map(_.rawBytes).sum + values)
      }
    }
    val specB = s
    Snapshot.publishAround(store.root, Change.Update(Set(colName)))(
      Jobs.run(spark, s"update $colName", tasks, sizes.map(_._1).sum, sizes.map(_._2).sum)(
        t => runPartUpdate(t, specB)))
  }

  /** Distributed bulk update: col[id] = value for every (_row_id, value)
    * row of `updates` — the MERGE-style path for updating 10⁹ rows, where
    * shipping ids through the driver (the pycolumns-faithful `update`
    * above) would not fly. One shuffle keyed by target partition; each
    * task rewrites its partitions' touched chunks copy-on-write, exactly
    * like the scalar path. Duplicate ids are dropped (one winner per id).
    */
  def updateDf(spark: SparkSession, store: ColumnStore, colName: String,
      updates: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col => f, substring}
    val snap = store.snapshot
    val s = snap.spec
    val cs = s.col(colName)
    require(updates.columns.length == 2,
      s"updates must have exactly (_row_id, value) columns, got ${updates.columns.toSeq}")
    val base = updates.toDF("_row_id", "value").dropDuplicates("_row_id")
    val castVal = {
      val c = f("value").cast(ColumnStore.sparkType(cs.ptype))
      if (cs.fixedWidth > 0 && (cs.ptype == PType.STR || cs.ptype == PType.BIN))
        substring(c, 1, cs.fixedWidth)
      else c
    }
    val norm = base.select(f("_row_id").cast(org.apache.spark.sql.types.LongType),
      castVal.as("value"))
    val offs = snap.partOffsets
    if (offs.isEmpty) return
    val starts = offs.map(_._3).toArray
    val metas = offs.map(o => (o._1, o._2, o._3)).toArray // (seg, part, off)
    val total = snap.nrows
    val pt = cs.ptype
    val specB = s
    val rootB = store.root
    val colB = colName
    val pairs = norm.queryExecution.toRdd.mapPartitions { it =>
      it.map { row =>
        // a failed cast yields null, and getLong/getInt read null slots as 0
        // — a malformed updates row would silently update row 0 / write 0
        require(!row.isNullAt(0) && !row.isNullAt(1),
          s"updateDf: null _row_id or value after cast to ${pt} " +
            "(malformed updates row — nulls are not updatable values)")
        val id = row.getLong(0)
        require(id >= 0 && id < total,
          s"row id $id out of bounds [0, $total)")
        val v: Any = pt match {
          case PType.I64 => row.getLong(1)
          case PType.I32 => row.getInt(1)
          case PType.I16 => row.getShort(1)
          case PType.F64 => row.getDouble(1)
          case PType.F32 => row.getFloat(1)
          case PType.BOOL => row.getBoolean(1)
          case PType.STR => row.getUTF8String(1).toString
          case PType.BIN => row.getBinary(1)
          case PType.I32LIST => row.getArray(1).toIntArray()
        }
        (partOf(starts, id), (id, v))
      }
    }
    val tasks = math.max(1, math.min(metas.length,
      spark.sparkContext.defaultParallelism * 2))
    // sort-within-partition keyed by target store partition, then STREAM
    // one pid group at a time: the task holds one store-partition's updates
    // in memory, not its whole shuffle partition as boxed tuples (the old
    // it.toArray + groupBy OOMed at exactly the 10^9-row scale this MERGE
    // path exists for)
    Snapshot.publishAround(store.root, Change.Update(Set(colName)))(
      Jobs.described(spark, s"update $colName")(pairs
      .repartitionAndSortWithinPartitions(new org.apache.spark.HashPartitioner(tasks))
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[Int] {
          override def hasNext: Boolean = rows.hasNext
          override def next(): Int = {
            val pid = rows.head._1
            val (seg, part, off) = metas(pid)
            val li = mutable.ArrayBuilder.make[Long]
            val lv = mutable.ArrayBuffer.empty[Any]
            while (rows.hasNext && rows.head._1 == pid) {
              val (_, (id, v)) = rows.next()
              li += id - off
              lv += v
            }
            runPartUpdate(PartUpdate(rootB, seg, part, colB, li.result(), lv.toArray),
              specB)
          }
        }
      }.collect()))
  }

  /** Raw bytes of one value, as the encoder counts them. */
  private def rawBytes(v: Any): Long = v match {
    case s: String => s.length + 4L
    case b: Array[Byte] => b.length + 4L
    case s: scala.collection.Seq[_] => 4L * s.length + 4
    case a: Array[Int] => 4L * a.length + 4
    case _: java.lang.Long | _: java.lang.Double => 8L
    case _: java.lang.Integer | _: java.lang.Float => 4L
    case _: java.lang.Short => 2L
    case _ => 1L
  }

  /** Copy-on-write rewrite of one partition's chunks of `t.colName`: each
    * rewritten chunk goes to a new chunk file version, then a new manifest
    * version publishes them. An encoded column rewrites the chunks the
    * update touches. A column BACKFILLED after this partition's segment has
    * no chunks here — readers synthesize its fill value — so its first
    * update rewrites a whole grid of fill-valued chunks, sized from the
    * partition's first 256 rows with the update applied: the moment the
    * reference allocates real storage for a new column's data
    * (create_from_array, columns.py:129-198). Untouched partitions keep
    * synthesizing the fill for free.
    */
  private def runPartUpdate(t: PartUpdate, spec: TableSpec): Int = {
    val dir = Format.segDir(t.root, t.seg)
    val m = latestManifest(t.root, t.seg, t.part)
    val newVer = m.updateVersion + 1
    val cs = spec.col(t.colName)
    val fill = Decode.fillValue(cs)
    val encoded = m.chunks.filter(_.column == t.colName).sortBy(_.rowStartLocal).toIndexedSeq
    val backfilled = encoded.isEmpty
    // the chunk grid: each chunk's first local row and row count
    val (starts, lens) =
      if (!backfilled) (encoded.map(_.rowStartLocal).toArray, encoded.map(_.nrows).toArray)
      else {
        val sample = Array.fill[Any](math.min(m.nrows, 256L).toInt)(fill)
        t.localIds.indices.foreach { i =>
          if (t.localIds(i) < sample.length) sample(t.localIds(i).toInt) = t.values(i)
        }
        val rows = ColumnStore.chunkRows(spec, cs, sample.map(rawBytes).sum, sample.length)
        val at = (0L until m.nrows by rows.toLong).toArray
        (at, at.map(s => math.min(rows.toLong, m.nrows - s).toInt))
      }
    // each update's chunk: a binary search per id, not a linear scan (the
    // bulk path can carry 10^6 updates into a 10^3-chunk partition)
    val byChunk = t.localIds.indices.groupBy { i =>
      val lid = t.localIds(i)
      val g = partOf(starts, lid)
      if (g < 0 || lid >= starts(g) + lens(g))
        throw new IllegalStateException(s"no chunk covers local row $lid")
      g
    }
    val written = (if (backfilled) starts.indices else byChunk.keys).map { g =>
      val any =
        if (backfilled) Array.fill[Any](lens(g))(fill)
        else vecToAny(Chunk.decode(readChunk(dir, encoded(g))))
      byChunk.getOrElse(g, Nil).foreach(i => any((t.localIds(i) - starts(g)).toInt) = t.values(i))
      val chunkIdx = if (backfilled) g else encoded(g).chunkIdx
      val cow = Format.cowFile(t.part, t.colName, chunkIdx, newVer)
      // every encode-derived field is fresh — stale zone-map stats would
      // let DSv2 planSelection prune chunks whose updated values now
      // match, and a stale filter would hide them from point lookups
      val (cm, bytes) = ColumnStore.encodeChunk(cs, chunkIdx, starts(g),
        anyToVec(cs.ptype, any), cow, 0L)
      FsIO.writeAtomic(s"$dir/$cow", bytes: _*)
      g -> cm
    }.toMap
    val newChunks =
      if (backfilled) m.chunks ++ starts.indices.map(written)
      else {
        val byOld = written.map { case (g, cm) => encoded(g) -> cm }
        m.chunks.map(c => byOld.getOrElse(c, c))
      }
    FsIO.writeAtomic(s"$dir/${Format.partManifestFile(t.part, newVer)}",
      BinCodec.writePartManifest(m.copy(updateVersion = newVer, chunks = newChunks)))
    newVer
  }

  private def latestManifest(root: String, seg: Long, part: Int): PartManifest = {
    val dir = Format.segDir(root, seg)
    val ver = FsIO.list(dir).flatMap(Format.partManifestVersion)
      .collect { case (`part`, v) => v }.max
    val file = s"$dir/${Format.partManifestFile(part, ver)}"
    BinCodec.readPartManifest(FsIO.readAll(file), file)
  }

  /** A chunk blob a rewrite copies, and the `extra` bytes stored right
    * after it, in one read; the chunk is checked against its manifest CRC:
    * a corrupt source fails the update or vacuum before anything publishes.
    */
  private def readChunk(dir: String, cm: ChunkMeta, extra: Long = 0L): Array[Byte] = {
    val buf = FsIO.readRange(s"$dir/${cm.file}", cm.offset, (cm.nbytes + extra).toInt)
    Decode.verifyChunk(cm, buf)
    buf
  }

  // ---------------------------------------------------------------- vacuum

  final case class CompactTask(root: String, seg: Long, part: Int) extends Serializable

  private val CowFile = """\.c\d+\.v\d+\.bin$""".r
  private def isCow(cm: ChunkMeta): Boolean = CowFile.findFirstIn(cm.file).isDefined

  /** Chunks of the columns that carry a copy-on-write version in `m`: the
    * ones a vacuum rewrites. Any other column's chunks already sit together
    * in one file that holds nothing else, so copying them reclaims nothing.
    */
  private def compacted(m: PartManifest): Seq[ChunkMeta] = {
    val cols = m.chunks.filter(isCow).map(_.column).toSet
    m.chunks.filter(c => cols(c.column))
  }

  /** Rewrite each column that carries copy-on-write chunk versions, per
    * partition, into a fresh contiguous generation file; drop dead chunk
    * versions. Data identical, storage shrinks. Partitions already
    * compacted (no cow files in the latest manifest) are skipped, so
    * repeated vacuums are no-ops instead of full rewrites. The partitions
    * are rewritten on the driver when their rows and the stored bytes
    * copied fit `Decode.driverBound`, else in one job (see [[Jobs.run]]).
    */
  def vacuum(spark: SparkSession, store: ColumnStore): Unit = {
    val snap = store.snapshot
    val spec = snap.spec
    val parts = for {
      seg <- snap.segments
      m <- snap.partManifests(seg)
      if m.updateVersion > 0 && m.chunks.exists(isCow)
    } yield (seg, m)
    if (parts.isEmpty) return
    val copied = parts.flatMap(p => compacted(p._2)).filter(c => spec.colNames.contains(c.column))
    // a failed rewrite may already have published manifests and deleted
    // files that the previous snapshot still points to
    try Jobs.run(spark, "vacuum", parts.map { case (seg, m) => CompactTask(store.root, seg, m.part) },
      parts.map(_._2.nrows).sum, copied.map(c => c.nbytes + c.filterBytes).sum)(
      t => compactPartition(t, spec))
    finally Snapshot.publish(store.root, Change.Reshape)
  }

  /** Crash-safe compaction order: (1) write each rewritten column's chunks into a NEW
    * generation file — the files the current manifest references are never
    * touched; (2) atomically publish the new manifest; (3) GC every file of
    * this partition the new manifest no longer references. A crash at any
    * point leaves a fully readable store (old manifest + old files before
    * the publish, new manifest + new files after). The old shape renamed
    * the rewritten blob ONTO the live base file before publishing — a crash
    * in that window left the latest manifest pointing at wrong offsets.
    */
  private def compactPartition(t: CompactTask, spec: TableSpec): Unit = {
    val dir = Format.segDir(t.root, t.seg)
    val m = latestManifest(t.root, t.seg, t.part)
    val newVer = m.updateVersion + 1
    val rewrite = compacted(m).map(_.column).toSet
    val newChunks = mutable.ArrayBuffer.empty[ChunkMeta]
    newChunks ++= m.chunks.filter(c => spec.colNames.contains(c.column) && !rewrite(c.column))
    spec.columns.filter(c => rewrite(c.name)).foreach { cs =>
      val gen = Format.genFile(t.part, cs.name, newVer)
      val out = FsIO.createOut(s"$dir/$gen")
      var offset = 0L
      try {
        m.chunks.filter(_.column == cs.name).sortBy(_.rowStartLocal).foreach { cm =>
          // the chunk and its membership filter, stored right after it, in
          // one read — losing the filter on vacuum would silently disable
          // point-lookup pruning
          val fLen = if (cm.filterKind == 1) cm.filterBytes else 0L
          require(fLen == 0 || cm.filterOffset == cm.offset + cm.nbytes,
            s"filter of ${cm.file} @${cm.offset} does not follow its chunk")
          val buf = readChunk(dir, cm, fLen)
          out.write(buf)
          newChunks += cm.copy(file = gen, offset = offset, filterKind = if (fLen > 0) 1 else 0,
            filterOffset = if (fLen > 0) offset + cm.nbytes else 0L, filterBytes = fLen)
          offset += buf.length
        }
      } finally out.close()
    }
    // publish: readers switch to the new layout in one atomic rename
    FsIO.writeAtomic(s"$dir/${Format.partManifestFile(t.part, newVer)}",
      BinCodec.writePartManifest(m.copy(updateVersion = newVer, chunks = newChunks.toSeq)))
    // GC this partition's dead files: old base/cow/generation chunk files
    // not referenced by the new manifest, plus superseded update manifests
    // (v0 stays: it is the encode resume checkpoint)
    val keep = newChunks.iterator.map(_.file).toSet
    val prefix = s"p${t.part}."
    FsIO.list(dir).foreach { name =>
      val manifest = Format.partManifestVersion(name)
      val isOldManifest = manifest.exists { case (p, v) => p == t.part && v > 0 && v < newVer }
      val isDeadChunkFile = manifest.isEmpty && name.startsWith(prefix) &&
        name.endsWith(".bin") && !keep(name)
      if (isOldManifest || isDeadChunkFile) FsIO.delete(s"$dir/$name")
    }
  }

  /** Merge all segments into one (streaming ingest creates a segment per
    * micro-batch; thousands of segments mean thousands of manifests to plan
    * over). Row ids are preserved — the rewrite re-sorts on `_row_id`
    * before encoding, so existing indexes stay valid. Atomic: the new
    * segments directory is swapped in with a rename.
    */
  def compactSegments(spark: SparkSession, store: ColumnStore,
      numParts: Int = 0): Unit = {
    val snap = store.snapshot
    if (snap.segments.size <= 1) return
    val parts = if (numParts > 0) numParts
      else math.max(1, math.min(2048, (snap.nrows / (1L << 19)).toInt + 1))
    val df = store.read(spark)
    val ordered = df
      .repartitionByRange(parts, org.apache.spark.sql.functions.col("_row_id"))
      .sortWithinPartitions("_row_id")
      .drop("_row_id")
    // the rewrite MATERIALIZES every column (read synthesizes fills), so
    // column epochs reset to segment 0 — keeping the original
    // addedAtSegment would make append's column-set check reject the
    // full-width frame and hide the materialized values from readers
    val freshSpec = snap.spec.copy(
      columns = snap.spec.columns.map(_.copy(addedAtSegment = 0L)))
    val tmpRoot = s"${store.root}/.compact-${java.util.UUID.randomUUID().toString.take(8)}"
    val tmp = ColumnStore.create(tmpRoot, freshSpec)
    tmp.append(spark, ordered, AsIs, lineage = s"compact:${snap.segments.size}segs")
    val written = tmp.snapshot.nrows
    require(written == snap.nrows,
      s"compaction row count mismatch: $written != ${snap.nrows}")
    val segDir = s"${store.root}/${Format.SegmentsDir}"
    val trash = s"${store.root}/.trash-${java.util.UUID.randomUUID().toString.take(8)}"
    // the store version lives outside segments/, so the swap keeps it
    try {
      FsIO.rename(segDir, trash)
      FsIO.rename(s"$tmpRoot/${Format.SegmentsDir}", segDir)
      FsIO.writeAtomic(s"${store.root}/${Format.SchemaFile}",
        BinCodec.writeTableSpec(freshSpec))
    } finally Snapshot.publish(store.root, Change.Reshape)
    FsIO.delete(trash, recursive = true)
    tmp.dropStore()
  }

  /** Total bytes under segments/ (observable storage for vacuum tests). */
  def storageBytes(store: ColumnStore): Long = {
    val fs = FsIO.fs(store.root)
    def sizeOf(p: org.apache.hadoop.fs.Path): Long = {
      val st = fs.listStatus(p)
      st.map(s => if (s.isDirectory) sizeOf(s.getPath) else s.getLen).sum
    }
    val p = new org.apache.hadoop.fs.Path(s"${store.root}/${Format.SegmentsDir}")
    if (fs.exists(p)) sizeOf(p) else 0L
  }
}
