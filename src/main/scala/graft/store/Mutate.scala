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

  /** Index of the partition holding global row `id`, given the partitions'
    * ascending start offsets: binary search, O(log P) per id.
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
    * single scalar broadcast over all ids.
    */
  def update(spark: SparkSession, store: ColumnStore, colName: String,
      ids: Array[Long], values: Array[Any],
      cfg: CodecConfig = CodecConfig.default): Unit = {
    val s = store.spec
    val cs = s.col(colName)
    require(values.length == ids.length || values.length == 1,
      s"${values.length} values for ${ids.length} rows")
    val total = store.nrows
    ids.foreach(id => require(id >= 0 && id < total,
      s"row id $id out of bounds [0, $total) " +
        "(reference raises IndexError, _column_pywrap.c bounds checks)"))
    val cast = values.map(castValue(cs, _))
    val offs = store.partOffsets()
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
    val specB = s
    Jobs.described(spark, s"update $colName")(
      spark.sparkContext.parallelize(tasks.toSeq, tasks.size)
        .map(t => runPartUpdate(t, specB, cfg))
        .collect())
    store.invalidateManifests()
  }

  /** Distributed bulk update: col[id] = value for every (_row_id, value)
    * row of `updates` — the MERGE-style path for updating 10⁹ rows, where
    * shipping ids through the driver (the pycolumns-faithful `update`
    * above) would not fly. One shuffle keyed by target partition; each
    * task rewrites its partitions' touched chunks copy-on-write, exactly
    * like the scalar path. Duplicate ids are dropped (one winner per id).
    */
  def updateDf(spark: SparkSession, store: ColumnStore, colName: String,
      updates: org.apache.spark.sql.DataFrame,
      cfg: CodecConfig = CodecConfig.default): Unit = {
    import org.apache.spark.sql.functions.{col => f, substring}
    val s = store.spec
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
    val offs = store.partOffsets()
    if (offs.isEmpty) return
    val starts = offs.map(_._3).toArray
    val metas = offs.map(o => (o._1, o._2, o._3)).toArray // (seg, part, off)
    val total = store.nrows
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
              specB, cfg)
          }
        }
      }.collect())
    store.invalidateManifests()
  }

  private def runPartUpdate(t: PartUpdate, spec: TableSpec,
      cfg: CodecConfig): Int = {
    val dir = Format.segDir(t.root, t.seg)
    val m = latestManifest(t.root, t.seg, t.part)
    val newVer = m.updateVersion + 1
    // group local ids by chunk — binary search per id, not a linear scan
    // (the bulk path can carry 10^6 updates into a 10^3-chunk partition)
    val colChunks = m.chunks.filter(_.column == t.colName)
      .sortBy(_.rowStartLocal).toIndexedSeq
    if (colChunks.isEmpty)
      return materializeBackfilled(t, spec, m, dir, newVer, cfg)
    def chunkFor(lid: Long): ChunkMeta = {
      var lo = 0
      var hi = colChunks.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (colChunks(mid).rowStartLocal + colChunks(mid).nrows <= lid) lo = mid + 1
        else hi = mid
      }
      if (lo >= colChunks.length || lid < colChunks(lo).rowStartLocal)
        throw new IllegalStateException(s"no chunk covers local row $lid")
      colChunks(lo)
    }
    val byChunk = mutable.LinkedHashMap.empty[ChunkMeta, (mutable.ArrayBuilder[Int], mutable.ArrayBuffer[Any])]
    var i = 0
    while (i < t.localIds.length) {
      val lid = t.localIds(i)
      val cm = chunkFor(lid)
      val slot = byChunk.getOrElseUpdate(cm,
        (mutable.ArrayBuilder.make[Int], mutable.ArrayBuffer.empty[Any]))
      slot._1 += (lid - cm.rowStartLocal).toInt
      slot._2 += t.values(i)
      i += 1
    }
    val colCfg = CodecConfig.forColumn(cfg, spec.col(t.colName).compression)
    val replaced = byChunk.map { case (cm, (idxB, vals)) =>
      val blob = readChunk(dir, cm)
      val pt = spec.col(t.colName).ptype
      val any = vecToAny(Chunk.decode(blob))
      val idx = idxB.result()
      var k = 0
      while (k < idx.length) { any(idx(k)) = vals(k); k += 1 }
      val vec = anyToVec(pt, any)
      val (newBlob, info) = Chunk.encodeWithInfo(vec, colCfg)
      val cow = Format.cowFile(t.part, t.colName, cm.chunkIdx, newVer)
      // filter appended after the chunk in the cow file — updated values
      // must re-enter it or point lookups would miss them
      val filter = if (cfg.chunkFilters) graft.codec.MemberFilter.fromVec(vec)
        else None
      FsIO.writeAtomic(s"$dir/$cow", filter.fold(newBlob)(newBlob ++ _))
      val (fk, fOff, fLen) = filter match {
        case Some(f) => (1, newBlob.length.toLong, f.length.toLong)
        case None => (0, 0L, 0L)
      }
      // refresh ALL encode-derived fields — stale zone-map stats would let
      // DSv2 planSelection prune chunks whose updated values now match
      cm -> cm.copy(codec = info.codec, outer = info.outer, file = cow,
        offset = 0L, nbytes = newBlob.length.toLong, rawBytes = info.rawBytes,
        crc = FsIO.crc32c(newBlob),
        statsKind = info.statsKind, minBits = info.minBits, maxBits = info.maxBits,
        sumKind = info.sumKind, sumBits = info.sumBits,
        filterKind = fk, filterOffset = fOff, filterBytes = fLen)
    }
    val newChunks = m.chunks.map(c => replaced.getOrElse(c, c))
    val nm = m.copy(updateVersion = newVer, chunks = newChunks)
    FsIO.writeAtomic(s"$dir/${Format.partManifestFile(t.part, newVer)}",
      BinCodec.writePartManifest(nm))
    newVer
  }

  /** First update to a column BACKFILLED after this partition's segment:
    * there are no chunks to rewrite, so materialize the whole partition —
    * fill value everywhere, scattered updates applied — into a fresh chunk
    * grid (the moment the reference allocates real storage for a new
    * column's data: create_from_array, columns.py:129-198). Readers decide
    * fill-vs-chunks by manifest presence, so the new chunks become visible
    * with the manifest version bump; untouched partitions keep synthesizing
    * the fill for free.
    */
  private def materializeBackfilled(t: PartUpdate, spec: TableSpec,
      m: PartManifest, dir: String, newVer: Int, cfg: CodecConfig): Int = {
    val cs = spec.col(t.colName)
    val colCfg = CodecConfig.forColumn(cfg, cs.compression)
    val n = m.nrows.toInt
    val fv: Any = Decode.fillValue(cs)
    val any = new Array[Any](n)
    java.util.Arrays.fill(any.asInstanceOf[Array[AnyRef]], fv.asInstanceOf[AnyRef])
    var i = 0
    while (i < t.localIds.length) { any(t.localIds(i).toInt) = t.values(i); i += 1 }
    def rowBytes(v: Any): Long = v match {
      case s: String => s.length + 4L
      case b: Array[Byte] => b.length + 4L
      case s: scala.collection.Seq[_] => 4L * s.length + 4
      case a: Array[Int] => 4L * a.length + 4
      case _: java.lang.Long | _: java.lang.Double => 8L
      case _: java.lang.Integer | _: java.lang.Float => 4L
      case _: java.lang.Short => 2L
      case _ => 1L
    }
    val targetBytes = if (cs.chunkBytes > 0) cs.chunkBytes else spec.targetChunkBytes
    val rowsPer =
      if (cs.chunkRows > 0) cs.chunkRows
      else if (spec.chunkRows > 0) spec.chunkRows
      else {
        val sample = math.min(n, 256)
        val per = (0 until sample).map(j => rowBytes(any(j))).sum.toDouble /
          math.max(1, sample)
        math.max(16, math.min(1 << 22, (targetBytes / math.max(1.0, per)).toInt))
      }
    val newChunks = mutable.ArrayBuffer.empty[ChunkMeta]
    var start = 0
    var ci = 0
    while (start < n) {
      val len = math.min(rowsPer, n - start)
      val slice = java.util.Arrays.copyOfRange(
        any.asInstanceOf[Array[AnyRef]], start, start + len).asInstanceOf[Array[Any]]
      val vec = anyToVec(cs.ptype, slice)
      val (blob, info) = Chunk.encodeWithInfo(vec, colCfg)
      val cow = Format.cowFile(t.part, t.colName, ci, newVer)
      val filter = if (cfg.chunkFilters) graft.codec.MemberFilter.fromVec(vec)
        else None
      FsIO.writeAtomic(s"$dir/$cow", filter.fold(blob)(blob ++ _))
      val (fk, fOff, fLen) = filter match {
        case Some(f) => (1, blob.length.toLong, f.length.toLong)
        case None => (0, 0L, 0L)
      }
      newChunks += ChunkMeta(t.colName, ci, start.toLong, info.nrows,
        info.codec, info.outer, cow, 0L, blob.length.toLong, info.rawBytes,
        FsIO.crc32c(blob), info.statsKind, info.minBits, info.maxBits,
        info.sumKind, info.sumBits, fk, fOff, fLen)
      start += len
      ci += 1
    }
    FsIO.writeAtomic(s"$dir/${Format.partManifestFile(t.part, newVer)}",
      BinCodec.writePartManifest(
        m.copy(updateVersion = newVer, chunks = m.chunks ++ newChunks)))
    newVer
  }

  private def latestManifest(root: String, seg: Long, part: Int): PartManifest = {
    val dir = Format.segDir(root, seg)
    val base = s"p$part.manifest"
    val vers = FsIO.list(dir).flatMap { n =>
      if (n == s"$base.bin") Some(0)
      else if (n.startsWith(s"$base.v") && n.endsWith(".bin"))
        n.stripPrefix(s"$base.v").stripSuffix(".bin").toIntOption
      else None
    }
    val file = s"$dir/${Format.partManifestFile(part, vers.max)}"
    BinCodec.readPartManifest(FsIO.readAll(file), file)
  }

  /** A chunk blob a rewrite copies, checked against its manifest CRC: a
    * corrupt source fails the update or vacuum before anything publishes.
    */
  private def readChunk(dir: String, cm: ChunkMeta): Array[Byte] = {
    val blob = FsIO.readRange(s"$dir/${cm.file}", cm.offset, cm.nbytes.toInt)
    Decode.verifyChunk(cm, blob)
    blob
  }

  // ---------------------------------------------------------------- vacuum

  final case class CompactTask(root: String, seg: Long, part: Int) extends Serializable

  /** Rewrite partitions that carry copy-on-write chunk versions into fresh
    * contiguous generation files; drop dead chunk versions. Data identical,
    * storage shrinks. Partitions already compacted (no cow files in the
    * latest manifest) are skipped, so repeated vacuums are no-ops instead
    * of full rewrites.
    */
  def vacuum(spark: SparkSession, store: ColumnStore,
      cfg: CodecConfig = CodecConfig.default): Unit = {
    val cowRe = """\.c\d+\.v\d+\.bin$""".r
    val tasks = for {
      seg <- store.segments
      m <- store.partManifests(seg)
      if m.updateVersion > 0 && m.chunks.exists(c => cowRe.findFirstIn(c.file).isDefined)
    } yield CompactTask(store.root, seg, m.part)
    if (tasks.isEmpty) return
    val spec = store.spec
    Jobs.described(spark, "vacuum")(
      spark.sparkContext.parallelize(tasks, tasks.size)
        .map(t => compactPartition(t, spec, cfg))
        .collect())
    store.invalidateManifests()
  }

  /** Crash-safe compaction order: (1) write each column's chunks into a NEW
    * generation file — the files the current manifest references are never
    * touched; (2) atomically publish the new manifest; (3) GC every file of
    * this partition the new manifest no longer references. A crash at any
    * point leaves a fully readable store (old manifest + old files before
    * the publish, new manifest + new files after). The old shape renamed
    * the rewritten blob ONTO the live base file before publishing — a crash
    * in that window left the latest manifest pointing at wrong offsets.
    */
  private def compactPartition(t: CompactTask, spec: TableSpec,
      cfg: CodecConfig): Unit = {
    val dir = Format.segDir(t.root, t.seg)
    val m = latestManifest(t.root, t.seg, t.part)
    val newVer = m.updateVersion + 1
    val cols = spec.columns.filter(c => m.chunks.exists(_.column == c.name))
    val newChunks = mutable.ArrayBuffer.empty[ChunkMeta]
    cols.foreach { cs =>
      val gen = Format.genFile(t.part, cs.name, newVer)
      val out = FsIO.createOut(s"$dir/$gen")
      var offset = 0L
      try {
        m.chunks.filter(_.column == cs.name).sortBy(_.rowStartLocal).foreach { cm =>
          val blob = readChunk(dir, cm)
          out.write(blob)
          // carry the membership filter into the generation file — losing
          // it on vacuum would silently disable point-lookup pruning
          val (fk, fOff, fLen) =
            if (cm.filterKind == 1 && cm.filterBytes > 0) {
              val f = FsIO.readRange(s"$dir/${cm.file}", cm.filterOffset,
                cm.filterBytes.toInt)
              out.write(f)
              (1, offset + blob.length, f.length.toLong)
            } else (0, 0L, 0L)
          newChunks += cm.copy(file = gen, offset = offset,
            filterKind = fk, filterOffset = fOff, filterBytes = fLen)
          offset += blob.length + fLen
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
      val isManifest = name.startsWith(s"p${t.part}.manifest")
      val isOldManifest = isManifest &&
        name.stripPrefix(s"p${t.part}.manifest.v").stripSuffix(".bin").toIntOption
          .exists(v => v > 0 && v < newVer)
      val isDeadChunkFile = !isManifest && name.startsWith(prefix) &&
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
      numParts: Int = 0, cfg: CodecConfig = CodecConfig.default): Unit = {
    if (store.segments.size <= 1) return
    val parts = if (numParts > 0) numParts
      else math.max(1, math.min(2048, (store.nrows / (1L << 19)).toInt + 1))
    val df = store.read(spark)
    val ordered = df
      .repartitionByRange(parts, org.apache.spark.sql.functions.col("_row_id"))
      .sortWithinPartitions("_row_id")
      .drop("_row_id")
    // the rewrite MATERIALIZES every column (read synthesizes fills), so
    // column epochs reset to segment 0 — keeping the original
    // addedAtSegment would make append's column-set check reject the
    // full-width frame and hide the materialized values from readers
    val freshSpec = store.spec.copy(
      columns = store.spec.columns.map(_.copy(addedAtSegment = 0L)))
    val tmpRoot = s"${store.root}/.compact-${java.util.UUID.randomUUID().toString.take(8)}"
    val tmp = ColumnStore.create(tmpRoot, freshSpec)
    tmp.append(spark, ordered, AsIs, lineage = s"compact:${store.segments.size}segs", cfg)
    require(tmp.nrows == store.nrows,
      s"compaction row count mismatch: ${tmp.nrows} != ${store.nrows}")
    val segDir = s"${store.root}/${Format.SegmentsDir}"
    val trash = s"${store.root}/.trash-${java.util.UUID.randomUUID().toString.take(8)}"
    FsIO.rename(segDir, trash)
    FsIO.rename(s"$tmpRoot/${Format.SegmentsDir}", segDir)
    FsIO.writeAtomic(s"${store.root}/${Format.SchemaFile}",
      BinCodec.writeTableSpec(freshSpec))
    FsIO.delete(trash, recursive = true)
    FsIO.delete(tmpRoot, recursive = true)
    store.invalidateAll()
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
