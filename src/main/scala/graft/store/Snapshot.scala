package graft.store

import scala.collection.mutable

/** Everything planning reads about one published store version: the spec,
  * the visible segments in row-id order, their commit records and part
  * manifests, per-partition stat roll-ups, raw bytes per column, global
  * partition offsets and the row count — plain values, read once per
  * version and shared by every handle in the JVM ([[Snapshot.of]]).
  * Mutations publish their version after their data and a snapshot reads
  * the version first, so version n holds every change published up to n
  * (a mutation still in flight may be partly visible).
  */
final class Snapshot private (
    val root: String,
    val version: Long,
    /** Store id, fixed at create and carried by every version entry. */
    val id: String,
    /** What the newest version records about the changes before it. */
    val entry: VersionEntry,
    val spec: TableSpec,
    val segments: IndexedSeq[Long],
    val commits: Map[Long, SegmentCommit],
    /** Every segment's part manifests, partition order, highest version. */
    val partManifests: Map[Long, IndexedSeq[PartManifest]],
    /** Per segment, per-(partition, column) min/max, see [[Snapshot.rollUp]]. */
    val partColStats: Map[Long, Map[Int, Map[String, (Int, Long, Long)]]],
    /** Decoded bytes per column over every chunk (Catalyst size statistic). */
    val colRawBytes: Map[String, Long],
    /** (segment, part, globalOffset, partRows) in row-id order. */
    val partOffsets: IndexedSeq[(Long, Int, Long, Long)],
    val nrows: Long) {

  /** Highest-version manifest for (seg, part). Parts are dense 0..n-1 in
    * partition order (every commit lists every partition), so this is an
    * array index.
    */
  def partManifest(seg: Long, part: Int): PartManifest = partManifests(seg)(part)

  /** Newest version that changed `col`'s stored values; 0 if none did. */
  def updatedAt(col: String): Long = entry.updatedAt.getOrElse(col, 0L)

  /** Driver-side scan planning: partition pruning + per-unit chunk pruning
    * against the manifest zone map. Shared by the API read path, the DSv2
    * connector and index builds.
    */
  def planUnits(columns: Seq[String], sel: Selection,
      emptyMeansAll: Boolean = true): (Seq[DecodeUnit], Seq[String]) = {
    // emptyMeansAll=false (DSv2 empty projection): decode NO columns, the
    // units carry row counts only (count(*) never opens a chunk file)
    val wanted = if (columns.isEmpty && emptyMeansAll) spec.colNames else columns
    wanted.foreach(spec.col(_)) // validate
    // SelIds: sort (id, pos) ONCE, then each partition/chunk slices its span
    // with binary search — O((P + chunks) log N) total, not O(P × N)
    val sortedSel = sel match {
      case SelIds(ids, pos) =>
        val order = ids.indices.toArray.sortBy(ids(_))
        val sIds = new Array[Long](ids.length)
        val sPos = new Array[Long](ids.length)
        var i = 0
        while (i < order.length) { sIds(i) = ids(order(i)); sPos(i) = pos(order(i)); i += 1 }
        SelIds(sIds, sPos)
      case other => other
    }
    // binary search: first index in sIds with value >= key
    def lowerBound(a: Array[Long], key: Long): Int = {
      var lo = 0
      var hi = a.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (a(mid) < key) lo = mid + 1 else hi = mid
      }
      lo
    }
    val units = mutable.ArrayBuffer.empty[DecodeUnit]
    for ((seg, part, off, rows) <- partOffsets) {
      val localSel: Option[Selection] = sortedSel match {
        case SelAll => Some(SelAll)
        case SelRange(start, stop, step) =>
          if (stop <= off || start >= off + rows) None
          else Some(SelRange(start, stop, step))
        case SelRanges(starts, stops) =>
          val ks = mutable.ArrayBuilder.make[Long]
          val ke = mutable.ArrayBuilder.make[Long]
          var i = 0
          while (i < starts.length) {
            if (stops(i) > off && starts(i) < off + rows) {
              ks += starts(i); ke += stops(i)
            }
            i += 1
          }
          val a = ks.result()
          if (a.isEmpty) None else Some(SelRanges(a, ke.result()))
        case SelIds(sIds, sPos) =>
          val from = lowerBound(sIds, off)
          val until = lowerBound(sIds, off + rows)
          if (from == until) None
          else Some(SelIds(
            java.util.Arrays.copyOfRange(sIds, from, until),
            java.util.Arrays.copyOfRange(sPos, from, until)))
      }
      localSel.foreach { ls =>
        val m = partManifest(seg, part)
        val perCol = wanted.map { cn =>
          // manifest PRESENCE decides fill-vs-chunks: a backfilled column
          // materializes chunks on first update, so addedAtSegment alone
          // would hide the written values
          val colChunks = m.chunks.filter(_.column == cn)
          if (colChunks.isEmpty) cn -> Seq.empty[ChunkMeta] // fill col
          else cn -> pruneChunks(colChunks, ls, off)
        }.toMap
        units += DecodeUnit(root, seg, part, off, rows, perCol, ls)
      }
    }
    (units.toSeq, wanted)
  }

  private def pruneChunks(chunks: Seq[ChunkMeta], sel: Selection,
      off: Long): Seq[ChunkMeta] = sel match {
    case SelAll => chunks
    case SelRange(start, stop, _) =>
      chunks.filter(c => off + c.rowStartLocal < stop &&
        off + c.rowStartLocal + c.nrows > start)
    case SelRanges(starts, stops) =>
      chunks.filter { c =>
        val lo = off + c.rowStartLocal
        val hi = lo + c.nrows
        starts.indices.exists(i => starts(i) < hi && stops(i) > lo)
      }
    case SelIds(ids, _) =>
      // ids arrive sorted (planUnits sorts once); chunks sorted by row start
      // — one merge walk, O(chunks + ids)
      val sorted = chunks.sortBy(_.rowStartLocal)
      val out = mutable.ArrayBuffer.empty[ChunkMeta]
      var i = 0
      sorted.foreach { c =>
        val lo = off + c.rowStartLocal
        val hi = lo + c.nrows
        while (i < ids.length && ids(i) < lo) i += 1
        if (i < ids.length && ids(i) < hi) out += c
      }
      out.toSeq
  }
}

/** What a published version changed. */
private[graft] sealed trait Change
private[graft] object Change {
  /** New segments only: every other piece of metadata stands. */
  case object Append extends Change
  /** Metadata rewritten with every stored value kept (vacuum, segment
    * compaction, column drop).
    */
  case object Reshape extends Change
  /** The stored values of `cols` changed (update, column add, overwrite). */
  final case class Update(cols: Set[String]) extends Change
}

object Snapshot {

  /** Newest version entry `<n>-<id>` as (n, id), or (0, ""); every name listed. */
  private def newest(root: String): ((Long, String), Seq[String]) = {
    val names = FsIO.list(s"$root/${Format.VersionDir}")
    val entries = names.collect { case Entry(n, id) => (n.toLong, id) }
    (if (entries.isEmpty) (0L, "") else entries.maxBy(_._1), names)
  }
  private val Entry = """(\d+)-([0-9a-f]+)""".r

  private val Empty = VersionEntry(0L, Map.empty)

  /** Payload of entry (v, id); None once a newer publish deleted it. */
  private def entryOf(root: String, v: Long, id: String): Option[VersionEntry] =
    if (id.isEmpty) Some(Empty)
    else {
      val file = s"$root/${Format.VersionDir}/$v-$id"
      try Some(BinCodec.readVersion(FsIO.readAll(file), file))
      catch { case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException => None }
    }

  /** Version 0 of a store just created: a fresh store id, an empty snapshot. */
  private[graft] def create(root: String, spec: TableSpec): Unit = {
    val id = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    FsIO.publishExclusive(s"$root/${Format.VersionDir}/0-$id", BinCodec.writeVersion(Empty))
    held.synchronized(held.put(root, new Snapshot(root, 0L, id, Empty, spec, IndexedSeq.empty,
      Map.empty, Map.empty, Map.empty, Map.empty, IndexedSeq.empty, 0L)))
  }

  /** Publish the next version of `root` once a mutation's data is in place
    * and return it. A lost race re-reads the winner and retries the next
    * number; a win deletes the older entries.
    */
  @scala.annotation.tailrec
  private[graft] def publish(root: String, change: Change): Long = {
    val dir = s"$root/${Format.VersionDir}"
    val ((cur, id), names) = newest(root)
    require(id.nonEmpty, s"no store version in $dir")
    val h = held.synchronized(held.get(root))
    val n = cur + 1
    (if (h != null && h.version == cur && h.id == id) Some(h.entry)
     else entryOf(root, cur, id)) match {
      case Some(e) if FsIO.publishExclusive(s"$dir/$n-$id", BinCodec.writeVersion(change match {
          case Change.Append => e
          case Change.Reshape => e.copy(reshapedAt = n)
          case Change.Update(cols) => VersionEntry(n, e.updatedAt ++ cols.map(_ -> n))
        })) =>
        names.filter(_.endsWith(s"-$id")).foreach(e => FsIO.delete(s"$dir/$e"))
        n
      case _ => publish(root, change) // lost the race to n: read the winner
    }
  }

  /** Run a mutation whose job writes values in place (an update): publish
    * `change` before it starts, so any snapshot that can hold part of its
    * writes — loaded by another handle mid-job, or after a crash — records
    * the change, and again once it ends or fails.
    */
  private[graft] def publishAround[T](root: String, change: Change)(job: => T): T = {
    publish(root, change)
    try job finally publish(root, change)
  }

  /** The newest snapshot this JVM read, per root; an evicted root is read again. */
  private val held = new java.util.LinkedHashMap[String, Snapshot](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Snapshot]): Boolean =
      size() > 64
  }

  /** The snapshot of `root`'s newest version: one listing while this JVM
    * holds it, else a read of the store's metadata — only the new segments'
    * when every version since the held one was an append.
    */
  @scala.annotation.tailrec
  def of(root: String): Snapshot = {
    val ((v, id), _) = newest(root)
    val h = held.synchronized(held.get(root))
    if (h != null && h.version == v && h.id == id) h
    else entryOf(root, v, id) match {
      case Some(e) =>
        val base = if (h != null && h.id == id && h.version < v &&
          h.entry.reshapedAt == e.reshapedAt) Some(h) else None
        val snap = load(root, v, id, e, base)
        held.synchronized(held.put(root, snap))
        snap
      case None => of(root) // a newer publish deleted v: list again
    }
  }

  private[graft] def forget(root: String): Unit = held.synchronized { held.remove(root); () }

  /** Read version `version`'s metadata. `base`, an older snapshot with no
    * reshape since, lends its spec and every segment it holds, so only the
    * segments committed after it are read.
    */
  @scala.annotation.tailrec
  private def load(root: String, version: Long, id: String, e: VersionEntry,
      base: Option[Snapshot]): Snapshot = {
    val spec = base.fold {
      val specFile = s"$root/${Format.SchemaFile}"
      BinCodec.readTableSpec(FsIO.readAll(specFile), specFile)
    }(_.spec)
    // visible = published by a `.commit-<n>-<seg>` marker AND carrying its
    // commit record; segments sort by marker number (see commitSegment). A
    // commit record without a marker is a commit in flight: invisible.
    val segsDir = s"$root/${Format.SegmentsDir}"
    val names = FsIO.list(segsDir)
    val markerOf: Map[Long, Long] = names // seg -> smallest marker number
      .collect { case m if m.startsWith(".commit-") => ColumnStore.markerParts(segsDir, m) }
      .groupBy(_._2).map { case (s, xs) => s -> xs.map(_._1).min }
    val commits = names.filter(_.startsWith("seg")).map(_.drop(3).toLong)
      .flatMap(s => markerOf.get(s).map(n => (n, s))).sorted
      .flatMap { case (_, s) =>
        base.flatMap(_.commits.get(s)).orElse(readCommit(root, s)).map(s -> _) }
    val segments = commits.map(_._1).toIndexedSeq
    val visible = commits.toMap
    // only a reshape removes a segment; seeing one gone, read everything
    if (base.exists(_.segments.exists(!visible.contains(_)))) load(root, version, id, e, None)
    else {
      val added = segments.filterNot(s => base.exists(_.commits.contains(s)))
      val newManifests = added.map(s => s -> loadPartManifests(root, s)).toMap
      val manifests = base.fold(Map.empty[Long, IndexedSeq[PartManifest]])(_.partManifests) ++
        newManifests
      val raw = newManifests.values.flatten.flatMap(_.chunks)
        .foldLeft(base.fold(Map.empty[String, Long])(_.colRawBytes)) { (m, c) =>
          m.updated(c.column, m.getOrElse(c.column, 0L) + c.rawBytes) }
      val parts = commits.flatMap { case (seg, c) =>
        c.partRows.zipWithIndex.map { case (rows, part) => (seg, part, rows) } }
      val starts = parts.scanLeft(0L)(_ + _._3)
      new Snapshot(root, version, id, e, spec, segments, visible, manifests,
        base.fold(Map.empty[Long, Map[Int, Map[String, (Int, Long, Long)]]])(_.partColStats) ++
          newManifests.map { case (s, ms) => s -> rollUp(ms) },
        raw,
        parts.zip(starts).map { case ((seg, part, rows), off) => (seg, part, off, rows) }
          .toIndexedSeq, starts.last)
    }
  }

  /** A segment's commit record; None when it is missing (a crash between
    * the marker and the record, or a record deleted by resume tests).
    */
  private def readCommit(root: String, seg: Long): Option[SegmentCommit] = {
    val file = s"${Format.segDir(root, seg)}/_commit.bin"
    try Some(BinCodec.readSegmentCommit(FsIO.readAll(file), file))
    catch {
      case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException => None
    }
  }

  /** All partition manifests of a segment via the consolidated
    * `_manifest.bin` written at commit: one directory listing + one file
    * read per segment (plus one read per UPDATED partition), instead of a
    * list + read per partition — at 10^5 partitions on an object store
    * that is the difference between milliseconds and minutes of serial
    * driver time before the first task.
    */
  private def loadPartManifests(root: String, seg: Long): IndexedSeq[PartManifest] = {
    val dir = Format.segDir(root, seg)
    val names = FsIO.list(dir)
    // max update version per part from the single listing
    val topVer = mutable.HashMap.empty[Int, Int]
    names.flatMap(Format.partManifestVersion).foreach { case (p, v) =>
      if (v > topVer.getOrElse(p, 0)) topVer(p) = v
    }
    val file = s"$dir/${Format.SegManifestFile}"
    BinCodec.readSegManifest(FsIO.readAll(file), file).map { m =>
      topVer.get(m.part) match {
        case Some(v) if v > m.updateVersion =>
          val f = s"$dir/${Format.partManifestFile(m.part, v)}"
          BinCodec.readPartManifest(FsIO.readAll(f), f)
        case _ => m
      }
    }
  }

  /** Per-(partition, column) min/max ROLL-UP over the chunk zone maps,
    * kind-aware (Long / double-bits / unsigned-prefix order). Lets query
    * planning skip whole partitions before walking chunk lists: at 10^5
    * partitions × 10^3 chunks × k filtered columns, the per-chunk walk
    * alone is ~10^8 driver comparisons per query — the roll-up reduces the
    * common selective case to O(partitions). Mixed/absent stat kinds
    * collapse to kind 0 = never skip (conservative).
    */
  private def rollUp(ms: IndexedSeq[PartManifest]): Map[Int, Map[String, (Int, Long, Long)]] =
    ms.map { m =>
      m.part -> m.chunks.groupBy(_.column).map { case (cn, cs) =>
        val kinds = cs.map(_.statsKind).distinct
        if (kinds.sizeIs != 1 || kinds.head == 0) cn -> ((0, 0L, 0L))
        else {
          val k = kinds.head
          def lt(a: Long, b: Long): Boolean = k match {
            case 2 => java.lang.Double.longBitsToDouble(a) <
              java.lang.Double.longBitsToDouble(b)
            case 3 => java.lang.Long.compareUnsigned(a, b) < 0
            case _ => a < b
          }
          var mn = cs.head.minBits
          var mx = cs.head.maxBits
          cs.foreach { c =>
            if (lt(c.minBits, mn)) mn = c.minBits
            if (lt(mx, c.maxBits)) mx = c.maxBits
          }
          cn -> ((k, mn, mx))
        }
      }
    }.toMap
}
