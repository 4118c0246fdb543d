package graft.store

import graft.codec.{Bytes, PType}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** On-disk format of a graft column store (SURVEY.md §1.3 mapping). This
  * is the only layout readers accept: every metadata file below is read
  * at exactly its current version, and anything else fails with one
  * `unsupported graft format version` error naming the file.
  *
  * ```
  * root/
  *   _schema.bin                 # TableSpec (columns, chunking config)
  *   _version/<n>-<id>           # store version n (VersionEntry)
  *   _meta/<name>.bin            # Meta entries (string map, pycolumns Meta)
  *   segments/
  *     .commit-<n>-<seg>         # empty marker: publishes seg as commit n
  *     seg<N>/                   # one segment per create/append (immutable)
  *       _claim.bin              # writer identity + claim state
  *       p<i>.<col>.bin          # column chunk blobs, partition i, base
  *       p<i>.<col>.c<j>.v<k>.bin  # copy-on-write updated chunk j, version k
  *       p<i>.<col>.g<k>.bin     # vacuum generation file at version k
  *       p<i>.manifest.bin       # per-partition manifest == resume checkpoint
  *       p<i>.manifest.v<k>.bin  # manifest after update/vacuum round k
  *       _manifest.bin           # every partition's v0 manifest, part order
  *       _commit.bin             # segment commit record (rows per partition)
  *   index/<col>/                # secondary index of one column
  *     _meta-<epoch>-<uuid>.bin  # index meta; the highest epoch wins
  *     _base-<uuid>/             # base sort (parquet)
  *     _gen-<uuid>/              # delta generations (parquet)
  *   <name>.cols/                # nested sub-table (own independent store)
  * ```
  *
  * Every mutation publishes the next store version AFTER its data: one
  * create-exclusive entry `_version/<n>-<id>` (a lost race retries n+1;
  * `id` is fixed at create) naming the newest version that changed more
  * than the segment list and, per column, the newest version that updated
  * its values; an update also publishes one before its job starts. Older
  * entries are deleted, so one listing finds the newest; readers list it
  * first and share one [[Snapshot]] per version.
  *
  * The per-partition manifest is the analogue of pycolumns' chunk descriptor
  * table (offset,nbytes,rowstart,nrows — /root/reference/pycolumns/
  * defaults.py:25-33) and doubles as lineage + metrics + the resume
  * checkpoint required by the north rule: a partition whose manifest exists
  * is complete and is skipped on restart.
  *
  * All metadata uses the same versioned little-endian binary writer as the
  * codecs (graft.codec.Bytes) — no external JSON dependency needed.
  */
object Format {
  final val SchemaFile = "_schema.bin"
  final val MetaDir = "_meta"
  final val SegmentsDir = "segments"
  final val IndexDir = "index"
  /** Consolidated per-segment manifest (all partition manifests, partition
    * order), written at commit so planning does one metadata read per
    * SEGMENT instead of a list+read per partition.
    */
  final val SegManifestFile = "_manifest.bin"
  final val VersionDir = "_version"
  /** Schema layout version: the one `_schema.bin` version readers accept
    * (3: stores carry `_version/`; index metas record a store version).
    */
  final val FormatVersion = 3

  def segDir(root: String, seg: Long): String = s"$root/$SegmentsDir/seg$seg"
  def colFile(part: Int, col: String): String = s"p$part.$col.bin"
  def cowFile(part: Int, col: String, chunk: Int, ver: Int): String =
    s"p$part.$col.c$chunk.v$ver.bin"
  /** Vacuum GENERATION file: a column's chunks rewritten contiguous. Never
    * overwrites the files the current manifest references — vacuum
    * publishes the new manifest first and GCs the old files after.
    */
  def genFile(part: Int, col: String, ver: Int): String =
    s"p$part.$col.g$ver.bin"
  def partManifestFile(part: Int, ver: Int): String =
    if (ver == 0) s"p$part.manifest.bin" else s"p$part.manifest.v$ver.bin"
  private val PartManifestName = """p(\d+)\.manifest(?:\.v(\d+))?\.bin""".r
  /** (part, version) of a [[partManifestFile]] name; None for any other
    * name, a crashed atomic write's `.tmp-` leftover included.
    */
  def partManifestVersion(name: String): Option[(Int, Int)] = name match {
    case PartManifestName(p, v) => Some((p.toInt, Option(v).fold(0)(_.toInt)))
    case _ => None
  }
}

/** One persisted column's schema (pycolumns ColumnSchema analogue,
  * /root/reference/pycolumns/schema.py:183-261). fixedWidth>0 reproduces
  * numpy 'U<n>'/'S<n>' truncate-on-write semantics; fill backs new columns
  * (columns.py:471-485). addedAtSegment: segments older than this synthesize
  * the fill value on read.
  */
final case class ColumnSpec(
    name: String,
    ptypeId: Int,
    fixedWidth: Int = 0,
    fill: Option[String] = None,
    addedAtSegment: Long = 0L,
    /** Per-column compression hint resolved by CodecConfig.forColumn
      * (pycolumns schema.py:264-325: None/auto, "none", "zstd[:lvl]", or a
      * codec name). None = content-driven auto-selection.
      */
    compression: Option[String] = None,
    /** Per-column chunk size override in bytes (0 = table default). */
    chunkBytes: Long = 0L,
    /** Per-column rows-per-chunk override (0 = derive from bytes). */
    chunkRows: Int = 0) {
  def ptype: PType.PType = PType(ptypeId)
}

final case class TableSpec(
    columns: Seq[ColumnSpec],
    targetChunkBytes: Long = 1L << 20, // reference default '1m', defaults.py:23
    chunkRows: Int = 0) {              // 0 = derive from targetChunkBytes
  def col(name: String): ColumnSpec =
    columns.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no such column: $name"))
  def colNames: Seq[String] = columns.map(_.name)
}

/** One encoded chunk's manifest entry. rowStartLocal is partition-local;
  * global row ids come from the segment commit's per-partition offsets.
  */
/** statsKind: 0 = none, 1 = integer min/max in (minBits, maxBits),
  * 2 = floating min/max stored as raw IEEE bits. These are the chunk-level
  * zone map for VALUE predicates (the base-data analogue of the index's
  * Parquet row-group stats), used by the DSv2 scan for chunk pruning.
  */
final case class ChunkMeta(
    column: String,
    chunkIdx: Int,
    rowStartLocal: Long,
    nrows: Int,
    codec: Int,
    outer: Int,
    file: String,
    offset: Long,
    nbytes: Long,
    rawBytes: Long,
    crc: Long,
    statsKind: Int = 0,
    minBits: Long = 0L,
    maxBits: Long = 0L,
    /** sumKind 1 = exact integer sum of the chunk's values in sumBits
      * — lets unfiltered SUM answer metadata-only; 0 = none.
      */
    sumKind: Int = 0,
    sumBits: Long = 0L,
    /** filterKind 1 = a MemberFilter (split-block bloom over the chunk's
      * distinct values) lives at [filterOffset, filterOffset+filterBytes)
      * of `file`; 0 = none. Equality/IN probes test it
      * before decoding — the filter blob itself stays OUT of the manifest
      * so planning metadata remains O(chunks), not O(distinct values).
      */
    filterKind: Int = 0,
    filterOffset: Long = 0L,
    filterBytes: Long = 0L)

/** Per-partition manifest: checkpoint + lineage + metrics. */
final case class PartManifest(
    segment: Long,
    part: Int,
    nrows: Long,
    elapsedNanos: Long,
    lineage: String,
    updateVersion: Int,
    chunks: Seq[ChunkMeta])

/** Payload of a store version entry: the newest version that changed
  * anything but the segment list (`reshapedAt`; a pure append keeps it),
  * and per column the newest version that changed its stored values.
  */
final case class VersionEntry(reshapedAt: Long, updatedAt: Map[String, Long])

/** Segment commit record. It is not the publication: a segment becomes
  * visible only when its `.commit-<n>-<seg>` marker exists (see
  * ColumnStore.commitSegment).
  */
final case class SegmentCommit(
    segment: Long,
    partRows: Seq[Long], // rows per partition, ordered by partition id
    lineage: String) {
  def totalRows: Long = partRows.sum
}

object BinCodec {
  import Bytes._

  private def wStr(w: Writer, s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    w.writeVar(b.length.toLong); w.writeBytes(b)
  }
  private def rStr(r: Reader): String =
    new String(r.readBytes(r.readVar().toInt), java.nio.charset.StandardCharsets.UTF_8)

  def writeTableSpec(t: TableSpec): Array[Byte] = {
    val w = new Writer()
    w.writeVar(Format.FormatVersion.toLong)
    w.writeVar(t.targetChunkBytes)
    w.writeVar(t.chunkRows.toLong)
    w.writeVar(t.columns.size.toLong)
    t.columns.foreach { c =>
      wStr(w, c.name)
      w.writeVar(c.ptypeId.toLong)
      w.writeVar(c.fixedWidth.toLong)
      w.writeByte(if (c.fill.isDefined) 1 else 0)
      c.fill.foreach(wStr(w, _))
      w.writeVar(c.addedAtSegment)
      // v2: per-column compression + chunking config
      w.writeByte(if (c.compression.isDefined) 1 else 0)
      c.compression.foreach(wStr(w, _))
      w.writeVar(c.chunkBytes)
      w.writeVar(c.chunkRows.toLong)
    }
    w.result()
  }

  /** The one error every metadata reader raises for bytes in any layout
    * but the current one: stores written by older builds are not readable.
    */
  def unsupported(file: String, found: String): Nothing =
    throw new IllegalStateException(
      s"unsupported graft format version in $file: found $found, " +
        "this build reads only the current layout")

  def readTableSpec(b: Array[Byte], file: String): TableSpec = {
    val r = new Reader(b)
    val ver = r.readVar()
    if (ver != Format.FormatVersion) unsupported(file, s"schema v$ver")
    val tcb = r.readVar()
    val cr = r.readVar().toInt
    val n = r.readVar().toInt
    val cols = (0 until n).map { _ =>
      val name = rStr(r)
      val pt = r.readVar().toInt
      val fw = r.readVar().toInt
      val fill = if (r.readByte() == 1) Some(rStr(r)) else None
      val seg = r.readVar()
      val comp = if (r.readByte() == 1) Some(rStr(r)) else None
      ColumnSpec(name, pt, fw, fill, seg, comp, r.readVar(), r.readVar().toInt)
    }
    TableSpec(cols, tcb, cr)
  }

  /** Leading sentinel of part manifests and commit records, followed by
    * the layout version.
    */
  private final val ManifestMagic = 0x67726674aaL // "grft" + noise

  /** Read the magic + version header; anything else is unsupported. */
  private def header(r: Reader, ver: Long, what: String, file: String): Unit = {
    val first = r.readVar()
    val found = if (first == ManifestMagic) r.readVar() else -1L
    if (found != ver)
      unsupported(file, if (found < 0) s"$what without a version header" else s"$what v$found")
  }

  def writePartManifest(m: PartManifest): Array[Byte] = {
    val w = new Writer()
    w.writeVar(ManifestMagic); w.writeVar(4L) // manifest format v4
    w.writeVar(m.segment); w.writeVar(m.part.toLong); w.writeVar(m.nrows)
    // fixed width: a varint here would make manifest SIZE depend on timing
    w.writeLE64(m.elapsedNanos); wStr(w, m.lineage)
    w.writeVar(m.updateVersion.toLong)
    w.writeVar(m.chunks.size.toLong)
    m.chunks.foreach { c =>
      wStr(w, c.column); w.writeVar(c.chunkIdx.toLong)
      w.writeVar(c.rowStartLocal); w.writeVar(c.nrows.toLong)
      w.writeVar(c.codec.toLong); w.writeVar(c.outer.toLong)
      wStr(w, c.file); w.writeVar(c.offset); w.writeVar(c.nbytes)
      w.writeVar(c.rawBytes); w.writeLE64(c.crc)
      w.writeVar(c.statsKind.toLong); w.writeLE64(c.minBits); w.writeLE64(c.maxBits)
      // v3: exact integer chunk sums
      w.writeVar(c.sumKind.toLong); w.writeLE64(c.sumBits)
      // v4: per-chunk membership filter location
      w.writeVar(c.filterKind.toLong); w.writeVar(c.filterOffset)
      w.writeVar(c.filterBytes)
    }
    w.result()
  }

  def readPartManifest(b: Array[Byte], file: String): PartManifest = {
    val r = new Reader(b)
    header(r, 4L, "part manifest", file)
    val seg = r.readVar(); val part = r.readVar().toInt; val nrows = r.readVar()
    val el = r.readLE64(); val lin = rStr(r)
    val uv = r.readVar().toInt
    val n = r.readVar().toInt
    val chunks = (0 until n).map { _ =>
      ChunkMeta(rStr(r), r.readVar().toInt, r.readVar(), r.readVar().toInt,
        r.readVar().toInt, r.readVar().toInt, rStr(r), r.readVar(), r.readVar(),
        r.readVar(), r.readLE64(), r.readVar().toInt, r.readLE64(), r.readLE64(),
        r.readVar().toInt, r.readLE64(), r.readVar().toInt, r.readVar(), r.readVar())
    }
    PartManifest(seg, part, nrows, el, lin, uv, chunks)
  }

  /** Consolidated segment manifest: length-prefixed part manifests in
    * partition order.
    */
  def writeSegManifest(ms: Seq[Array[Byte]]): Array[Byte] = {
    val w = new Bytes.Writer(ms.map(_.length + 5).sum + 5)
    w.writeVar(ms.size.toLong)
    ms.foreach { b => w.writeVar(b.length.toLong); w.writeBytes(b) }
    w.result()
  }

  def readSegManifest(b: Array[Byte], file: String): IndexedSeq[PartManifest] = {
    val r = new Reader(b)
    val n = r.readVar().toInt
    (0 until n).map(_ => readPartManifest(r.readBytes(r.readVar().toInt), file))
  }

  def writeVersion(e: VersionEntry): Array[Byte] = {
    val w = new Writer()
    w.writeVar(ManifestMagic); w.writeVar(1L) // version entry format v1
    w.writeVar(e.reshapedAt)
    w.writeVar(e.updatedAt.size.toLong)
    e.updatedAt.toSeq.sortBy(_._1).foreach { case (c, v) => wStr(w, c); w.writeVar(v) }
    w.result()
  }

  def readVersion(b: Array[Byte], file: String): VersionEntry = {
    val r = new Reader(b)
    header(r, 1L, "store version", file)
    val reshapedAt = r.readVar()
    val n = r.readVar().toInt
    VersionEntry(reshapedAt, (0 until n).map(_ => rStr(r) -> r.readVar()).toMap)
  }

  def writeSegmentCommit(c: SegmentCommit): Array[Byte] = {
    val w = new Writer()
    w.writeVar(ManifestMagic); w.writeVar(2L) // commit format v2
    w.writeVar(c.segment)
    w.writeVar(c.partRows.size.toLong)
    c.partRows.foreach(w.writeVar)
    wStr(w, c.lineage)
    w.writeByte(1) // "published by marker": the only kind of commit there is
    w.result()
  }

  def readSegmentCommit(b: Array[Byte], file: String): SegmentCommit = {
    val r = new Reader(b)
    header(r, 2L, "segment commit", file)
    val seg = r.readVar()
    val n = r.readVar().toInt
    val rows = (0 until n).map(_ => r.readVar())
    SegmentCommit(seg, rows, rStr(r))
  }

}

/** Filesystem access through the Hadoop FS API so the same code runs on
  * file://, hdfs:// and s3a:// at cluster scale; local mode uses
  * RawLocalFileSystem semantics.
  */
object FsIO {
  // ONE Configuration per JVM: constructing one parses XML under global
  // JAXP locks — doing that per call serializes 32-way parallel encodes
  @transient private[graft] lazy val conf = new Configuration()

  def fs(path: String): FileSystem =
    new Path(path).getFileSystem(conf) // Hadoop caches FS per (scheme, auth)

  /** Metadata-operation counter (list + whole-file reads), used by tests to
    * assert planning does O(segments), not O(partitions), round-trips.
    */
  val metaOps = new java.util.concurrent.atomic.AtomicLong(0L)

  // ---------------------------------------------------- local nio fast path
  // The Hadoop LOCAL filesystem pays a forked `chmod` per file create when
  // native IO is absent (measured in this sandbox: 7 ms/create, 34 ms per
  // write-and-rename, vs 0.16 ms through java.nio) and a per-entry stat on
  // listings. Metadata traffic (manifests, commit records, claims, index
  // metas) is pure per-operation fixed cost at ANY scale, so on local paths
  // (scheme null or file://) these ops route through java.nio; hdfs/s3a
  // keep the Hadoop path unchanged. Chunk DATA streams (fs(path).create /
  // open) stay on Hadoop, so ChecksumFileSystem .crc sidecars still cover
  // bulk data; the nio ops maintain sidecar hygiene — delete/rename/
  // overwrite carry or drop the sibling `.name.crc` — and listings filter
  // sidecars exactly like ChecksumFileSystem.listStatus does, so the two
  // layers never disagree about directory contents.

  private def localOf(path: String): java.nio.file.Path = {
    val uri = new Path(path).toUri
    if (uri.getScheme == null || uri.getScheme == "file")
      java.nio.file.Paths.get(uri.getPath)
    else null
  }

  private def crcSibling(p: java.nio.file.Path): java.nio.file.Path =
    p.resolveSibling("." + p.getFileName.toString + ".crc")

  /** Hadoop create() makes parent dirs implicitly; the nio writes match. */
  private def createParent(p: java.nio.file.Path): Unit =
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)

  private def isCrcSidecar(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".crc")

  def exists(path: String): Boolean = {
    val lp = localOf(path)
    if (lp != null) java.nio.file.Files.exists(lp)
    else fs(path).exists(new Path(path))
  }

  def mkdirs(path: String): Unit = {
    val lp = localOf(path)
    if (lp != null) { java.nio.file.Files.createDirectories(lp); () }
    else { fs(path).mkdirs(new Path(path)); () }
  }

  // FileContext per (scheme, authority): unlike FileSystem.rename, its
  // rename(OVERWRITE) maps to an atomic POSIX rename on local/HDFS
  @transient private lazy val fileContexts =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.hadoop.fs.FileContext]()
  private def fc(path: String): org.apache.hadoop.fs.FileContext = {
    val uri = new Path(path).toUri
    val key = s"${uri.getScheme}|${Option(uri.getAuthority).getOrElse("")}"
    fileContexts.computeIfAbsent(key, _ =>
      org.apache.hadoop.fs.FileContext.getFileContext(
        fs(path).makeQualified(new Path(path)).toUri, conf))
  }

  /** Write-then-ATOMIC-overwrite-rename: at no instant does `path` not
    * exist. The previous delete-then-rename shape had a crash window that
    * could leave the store without its `_schema.bin`/`_commit.bin`/latest
    * manifest. Falls back to delete+rename on filesystems without atomic
    * overwrite rename (object stores — which have no atomic rename at all;
    * documented limitation there). The file's content is `parts` in order.
    */
  def writeAtomic(path: String, parts: Array[Byte]*): Unit = {
    val lp = localOf(path)
    if (lp != null) {
      createParent(lp)
      val tmp = lp.resolveSibling(
        lp.getFileName.toString + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
      val out = java.nio.file.Files.newOutputStream(tmp)
      try parts.foreach(out.write) finally out.close()
      java.nio.file.Files.move(tmp, lp,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // a Hadoop-written predecessor leaves a sidecar describing the OLD
      // bytes; a later checksummed open would fail on the new content
      java.nio.file.Files.deleteIfExists(crcSibling(lp))
      return
    }
    val f = fs(path)
    val tmp = new Path(path + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    val out = f.create(tmp, true)
    try parts.foreach(out.write) finally out.close()
    try fc(path).rename(tmp, new Path(path),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        if (f.exists(new Path(path))) f.delete(new Path(path), false)
        if (!f.rename(tmp, new Path(path)))
          throw new java.io.IOException(s"rename $tmp -> $path failed")
    }
  }

  def readAll(path: String): Array[Byte] = {
    metaOps.incrementAndGet()
    val lp = localOf(path)
    if (lp != null) return java.nio.file.Files.readAllBytes(lp)
    val f = fs(path)
    val st = f.getFileStatus(new Path(path))
    val buf = new Array[Byte](st.getLen.toInt)
    val in = f.open(new Path(path))
    try in.readFully(0L, buf) finally in.close()
    buf
  }

  def readRange(path: String, offset: Long, nbytes: Int): Array[Byte] = {
    val lp = localOf(path)
    val buf = new Array[Byte](nbytes)
    if (lp != null) {
      val ch = java.nio.channels.FileChannel.open(lp,
        java.nio.file.StandardOpenOption.READ)
      try {
        val bb = java.nio.ByteBuffer.wrap(buf)
        var pos = offset
        while (bb.hasRemaining) {
          val n = ch.read(bb, pos)
          if (n < 0) throw new java.io.EOFException(
            s"EOF at $pos reading [$offset, ${offset + nbytes}) of $path")
          pos += n
        }
      } finally ch.close()
      return buf
    }
    val in = fs(path).open(new Path(path))
    try in.readFully(offset, buf) finally in.close()
    buf
  }

  def list(dir: String): Seq[String] = {
    metaOps.incrementAndGet()
    val lp = localOf(dir)
    if (lp != null) {
      // filter checksum sidecars exactly like ChecksumFileSystem.listStatus,
      // so callers see the same namespace as through the Hadoop path
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      try {
        val s = java.nio.file.Files.newDirectoryStream(lp)
        try {
          val it = s.iterator()
          while (it.hasNext) {
            val n = it.next().getFileName.toString
            if (!isCrcSidecar(n)) out += n
          }
        } finally s.close()
      } catch { case _: java.nio.file.NoSuchFileException |
                     _: java.nio.file.NotDirectoryException => return Seq.empty }
      return out.toSeq
    }
    val f = fs(dir)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
  }

  def delete(path: String, recursive: Boolean = false): Unit = {
    val lp = localOf(path)
    if (lp != null) {
      if (recursive && java.nio.file.Files.isDirectory(lp,
          java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        import java.nio.file._
        Files.walkFileTree(lp, new SimpleFileVisitor[java.nio.file.Path] {
          override def visitFile(f: java.nio.file.Path,
              a: attribute.BasicFileAttributes): FileVisitResult = {
            Files.deleteIfExists(f); FileVisitResult.CONTINUE
          }
          override def postVisitDirectory(d: java.nio.file.Path,
              e: java.io.IOException): FileVisitResult = {
            Files.deleteIfExists(d); FileVisitResult.CONTINUE
          }
        })
      } else {
        // keep the Hadoop-side contract: a checksummed file's sidecar dies
        // with it, never lingering to poison a same-named successor
        java.nio.file.Files.deleteIfExists(lp)
        java.nio.file.Files.deleteIfExists(crcSibling(lp))
      }
      return
    }
    val f = fs(path)
    if (f.exists(new Path(path))) f.delete(new Path(path), recursive)
  }

  def rename(from: String, to: String): Unit = {
    val lf = localOf(from)
    val lt = localOf(to)
    if (lf != null && lt != null) {
      java.nio.file.Files.move(lf, lt, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      // carry a Hadoop-written source's checksum sidecar to the new name
      // (ChecksumFileSystem.rename does the same); drop any stale target one
      val fromCrc = crcSibling(lf)
      val toCrc = crcSibling(lt)
      if (java.nio.file.Files.exists(fromCrc))
        java.nio.file.Files.move(fromCrc, toCrc,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      else java.nio.file.Files.deleteIfExists(toCrc)
      return
    }
    if (!fs(from).rename(new Path(from), new Path(to)))
      throw new java.io.IOException(s"rename $from -> $to failed")
  }

  /** Create `path` EXCLUSIVELY (atomic claim): throws if it already exists,
    * and at most one concurrent caller succeeds. java.nio CREATE_NEW on
    * local paths (truly atomic); Hadoop `create(overwrite = false)`
    * elsewhere — atomic on HDFS (namenode-arbitrated), best-effort on
    * object stores without conditional puts.
    *
    * NOT just claim hygiene: the `.commit-<n>-<seg>` publication that fixes
    * GLOBAL ROW-ID ORDER (streaming offsets, incremental index refresh)
    * rides on this primitive. On a store where create-exclusive is
    * best-effort, two writers can both believe they published marker n and
    * readers may disagree on row numbering — a correctness failure, not a
    * hygiene one. Deploy such stores only with a single writer or an
    * external lock (see README "Filesystem requirements").
    */
  def createExclusive(path: String, bytes: Array[Byte]): Unit = {
    val uri = new Path(path).toUri
    if (uri.getScheme == null || uri.getScheme == "file") {
      java.nio.file.Files.write(java.nio.file.Paths.get(uri.getPath), bytes,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
    } else {
      val out = fs(path).create(new Path(path), false)
      try out.write(bytes) finally out.close()
    }
  }

  /** Like [[createExclusive]], returning false when `path` exists, but
    * readers never see a partial payload: it is written under a temporary
    * name, then hard-linked (local) or renamed without overwrite (Hadoop).
    */
  def publishExclusive(path: String, bytes: Array[Byte]): Boolean = {
    val tmp = path + ".tmp-" + java.util.UUID.randomUUID().toString.take(8)
    val lp = localOf(path)
    if (lp != null) {
      val lt = localOf(tmp)
      createParent(lt)
      java.nio.file.Files.write(lt, bytes)
      try { java.nio.file.Files.createLink(lp, lt); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally java.nio.file.Files.deleteIfExists(lt)
    } else {
      val out = fs(tmp).create(new Path(tmp), true)
      try out.write(bytes) finally out.close()
      try { fc(path).rename(new Path(tmp), new Path(path)); true }
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
      finally delete(tmp)
    }
  }

  def crc32c(b: Array[Byte]): Long = crc32c(b, 0, b.length)

  def crc32c(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32C()
    c.update(b, off, len)
    c.getValue
  }

  /** Create an output stream for a DATA file (chunk payloads). Non-local
    * schemes go through the Hadoop filesystem unchanged. Local paths use a
    * java.nio stream that ALSO writes a Hadoop-ChecksumFileSystem-
    * COMPATIBLE `.name.crc` sidecar on close (public format: "crc\0"
    * header + big-endian int bytesPerSum + one CRC32 per data block) — so
    * the read path through the Hadoop LocalFileSystem keeps verifying
    * every chunk read exactly as before, without paying the forked chmod
    * the Hadoop create does per file when native IO is absent (~7 ms in
    * this sandbox; a partition encoder opens one stream per column).
    * Compatibility is proven by a unit test that writes through this path,
    * reads through the checksummed Hadoop fs, then flips a byte and
    * demands a ChecksumException.
    */
  def createOut(path: String): java.io.OutputStream = {
    val lp = localOf(path)
    if (lp == null) return fs(path).create(new Path(path), true)
    val bytesPerSum = conf.getInt("file.bytes-per-checksum", 512)
    createParent(lp)
    val dataOut = java.nio.file.Files.newOutputStream(lp)
    new java.io.BufferedOutputStream(dataOut, 1 << 16) {
      private val crc = new java.util.zip.CRC32()
      private val sums = new java.io.ByteArrayOutputStream(256)
      private var inBlock = 0
      private def feed(b: Array[Byte], off: Int, len: Int): Unit = {
        var o = off
        var n = len
        while (n > 0) {
          val take = math.min(n, bytesPerSum - inBlock)
          crc.update(b, o, take)
          inBlock += take
          if (inBlock == bytesPerSum) flushSum()
          o += take
          n -= take
        }
      }
      private def flushSum(): Unit = {
        val v = crc.getValue.toInt
        sums.write((v >>> 24) & 0xff); sums.write((v >>> 16) & 0xff)
        sums.write((v >>> 8) & 0xff); sums.write(v & 0xff)
        crc.reset()
        inBlock = 0
      }
      override def write(b: Int): Unit = {
        super.write(b)
        feed(Array(b.toByte), 0, 1)
      }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        super.write(b, off, len)
        feed(b, off, len)
      }
      override def close(): Unit = {
        super.close()
        if (inBlock > 0) flushSum()
        val head = new java.io.ByteArrayOutputStream(16)
        head.write('c'); head.write('r'); head.write('c'); head.write(0)
        head.write((bytesPerSum >>> 24) & 0xff); head.write((bytesPerSum >>> 16) & 0xff)
        head.write((bytesPerSum >>> 8) & 0xff); head.write(bytesPerSum & 0xff)
        head.write(sums.toByteArray)
        java.nio.file.Files.write(crcSibling(lp), head.toByteArray)
      }
    }
  }
}
