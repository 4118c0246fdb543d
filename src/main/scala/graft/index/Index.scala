package graft.index

import graft.codec.Bytes
import graft.sources.GraftScan
import graft.store.{BinCodec, ColumnStore, Decode, FsIO, Jobs, SelRange, Snapshot}
import org.apache.spark.sql.{DataFrame, SparkSession, functions, sources}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InternalRows
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

import scala.collection.mutable

/** Secondary index per column — the Spark-native replacement for the
  * reference's `.index`/`.sorted`/`.index1` trio (pycolumns
  * column.py:483-613).
  *
  * Build: every index run (the base sort, a delta generation, a merge of
  * generations) is (value, row_id) rows sorted by both, persisted as
  * Parquet. As the reference picks by size — an in-memory argsort when the
  * column fits, its external k-way mergesort past `cache_mem`
  * (column.py:483-559, mergesort.py) — a run of at most `DriverRows` rows
  * and `DriverBytes` raw bytes is sorted and written on the driver with no
  * Spark job, and a larger one by Spark's external shuffle sort
  * (`repartitionByRange → sortWithinPartitions`), never a reimplemented
  * mergesort (SURVEY.md §2.3 I1-I3).
  *
  * Lookup: runs are value-sorted, so Parquet row-group min/max statistics
  * are exactly the reference's coarse `index1` zone map (every-10,000th
  * sorted value, column.py:584-613). A consult reads the footers of every
  * run file on the driver and keeps the row groups whose min/max can match
  * — the zone-map test the store's chunks use, as the reference bisects its
  * fences in RAM. When the kept groups hold at most `DriverRows` rows, it
  * reads just those rows with parquet-java and filters them with Spark's
  * own predicate, launching no Spark job (the reference answers in one
  * process too); larger kept sets go to the distributed index read.
  * Results are row-id sets in value order (the reference's contract:
  * `Indices`, value-sorted).
  *
  * Tie-break by row_id (documented divergence: numpy argsort tie order is
  * unspecified; reference tests use tie-free data).
  */
object Index {

  final val ValueCol = "value"
  final val RowIdCol = "row_id"

  def dir(store: ColumnStore, col: String): String =
    s"${store.root}/index/$col"

  /** Index metadata: the row count and store version the build read, plus
    * the LIVE delta generations (name, rows) — LSM-style sorted runs
    * stacked on the base sort by incremental refreshes. The meta is the COMMIT POINT: a gen
    * directory not listed here does not exist to readers (crashed refresh
    * attempts leave only invisible orphans, GC'd by the next refresh).
    *
    * CONCURRENCY (CAS commits): metas are EPOCH-NAMED files
    * `_meta-<epoch>-<uuid>.bin`, published by atomic rename; the effective
    * meta is the one with the highest epoch (uuid ascending breaks the
    * rare same-epoch tie deterministically). A writer reads the winner at
    * epoch e, does its work, commits at e+1, then re-lists: if its file is
    * not the winner it LOST the race — it re-reads and retries or no-ops.
    * A losing writer's GEN dirs are left in place (a reader that sampled
    * its meta mid-race keeps every dir it references, protected by the
    * tombstone grace); superseded meta FILES are swept by the winner, and
    * readers re-list on a failed read. Two same-epoch commits are both valid
    * views built from the same parent; picking either is equivalent to one
    * of the two racing writers having committed last.
    *
    * BASE VERSIONING: the base sort lives in a meta-named `_base-<uuid>`
    * subdir (`base`). A full REBUILD writes a NEW base dir and commits it
    * — it never overwrites files another meta references, so an
    * incremental refresh racing a rebuild yields two self-consistent
    * candidate metas (old base + delta vs new base) and the CAS picks one;
    * the loser's dirs age out through the same tombstone-grace GC as
    * generations. (With an overwritten-in-place base, the racing
    * incremental meta would have double-listed the rebuilt rows —
    * new-base ∪ old-delta — a correctness bug, not a leak.)
    */
  private[graft] final case class IdxMeta(rows: Long, version: Long,
      gens: Seq[(String, Long)], base: String) {
    def deltaRows: Long = gens.map(_._2).sum
  }

  private val utf8 = java.nio.charset.StandardCharsets.UTF_8
  private val MetaName = """_meta-(\d+)-([0-9a-f]+)\.bin""".r

  /** Meta files winner-first: epoch descending, then uuid ascending. */
  private def listMetas(d: String): Seq[(Long, String)] =
    FsIO.list(d).collect { case n @ MetaName(e, u) => (e.toLong, u, n) }
      .sortBy { case (e, u, _) => (-e, u) }
      .map { case (e, _, n) => (e, n) }

  def exists(store: ColumnStore, col: String): Boolean =
    listMetas(dir(store, col)).nonEmpty

  /** Layout: rows, version, gens (name, rows)*, base. A meta missing any of
    * them (older builds wrote stamp-less or base-less metas) is unsupported.
    */
  private def loadMeta(file: String): IdxMeta = {
    val r = new Bytes.Reader(FsIO.readAll(file))
    def str(): String = new String(r.readBytes(r.readVar().toInt), utf8)
    val m =
      try Some(IdxMeta(r.readVar(), r.readVar(),
        Seq.fill(r.readVar().toInt)((str(), r.readVar())), str()))
      catch { case _: RuntimeException => None }
    m.filter(x => x.base.nonEmpty && r.remaining == 0)
      .getOrElse(BinCodec.unsupported(file, "an index meta in an older layout"))
  }

  /** Effective meta + its epoch. Retries on a read of a just-GC'd meta
    * file (re-list picks the live winner).
    */
  private[graft] def readMetaEpoch(store: ColumnStore, col: String): (IdxMeta, Long) = {
    val d = dir(store, col)
    var attempt = 0
    while (true) {
      val metas = listMetas(d)
      try {
        return metas.headOption match {
          case Some((e, name)) => (loadMeta(s"$d/$name"), e)
          case None => throw new java.io.FileNotFoundException(s"no index meta in $d")
        }
      } catch {
        case _: java.io.IOException if attempt < 3 => attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private[graft] def readMeta(store: ColumnStore, col: String): IdxMeta =
    readMetaEpoch(store, col)._1

  /** CAS commit: publish `m` at `epoch` and return whether we WON (our
    * file is the effective meta). On a win, sweeps every superseded meta
    * file: in-flight readers that already listed re-list on the failed
    * read (readMetaEpoch retries), and readers mid-scan of a superseded
    * meta's GENS are protected by the tombstone grace window, so the meta
    * files themselves need no retention.
    */
  private[graft] def commitMeta(store: ColumnStore, col: String, m: IdxMeta,
      epoch: Long): Boolean = {
    val d = dir(store, col)
    val uuid = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val name = f"_meta-$epoch%019d-$uuid.bin"
    val w = new Bytes.Writer()
    w.writeVar(m.rows)
    w.writeVar(m.version)
    w.writeVar(m.gens.size.toLong)
    m.gens.foreach { case (gn, rows) =>
      val b = gn.getBytes(utf8)
      w.writeVar(b.length.toLong); w.writeBytes(b)
      w.writeVar(rows)
    }
    val bb = m.base.getBytes(utf8)
    w.writeVar(bb.length.toLong); w.writeBytes(bb)
    FsIO.writeAtomic(s"$d/$name", w.result())
    val metas = listMetas(d)
    val won = metas.headOption.exists(_._2 == name)
    if (won) {
      metas.drop(1)
        .foreach { case (_, n) => try FsIO.delete(s"$d/$n") catch { case _: Exception => () } }
    }
    won
  }

  /** May the DSv2 scan route THROUGH this index when planning over
    * `snap`? Stricter than the API staleness contract (stale reads are
    * legal inside `updating{}`): routing prunes rows before residual
    * filtering, so the index must hold exactly the snapshot's values — it
    * covers the snapshot's rows and was built from a version no older than
    * the last update of `col` and no newer than the snapshot. Vacuum,
    * compaction, column drop and updates of other columns keep every
    * (value, row_id) of `col`.
    */
  def routableFor(snap: Snapshot, col: String): Boolean =
    try fresh(snap, col, readMeta(new ColumnStore(snap.root), col))
    catch { case _: Exception => false } // no index

  private[graft] def fresh(snap: Snapshot, col: String, m: IdxMeta): Boolean =
    m.rows == snap.nrows && snap.updatedAt(col) <= m.version && m.version <= snap.version

  /** Build (or rebuild) the index for a column: one sorted run of every
    * row, written by [[writeRun]] — on the driver when it is small, else by
    * one distributed range sort.
    */
  def create(spark: SparkSession, store: ColumnStore, col: String,
      overwrite: Boolean = false): Unit = {
    val snap = store.snapshot
    require(snap.spec.col(col).ptypeId != graft.codec.PType.I32LIST.id,
      s"cannot index array column $col")
    if (exists(store, col))
      require(overwrite, s"index on $col exists " +
        "(reference raises unless overwrite=True, column.py:492-497)")
    // the build reads one snapshot: an update of `col` published later
    // leaves the index older than that update, so DSv2 routing disengages
    // until the next refresh
    val nrows = snap.nrows
    // NEW versioned base dir — never overwrites files another meta (or an
    // in-flight reader) references; superseded bases age out via the GC
    val base = s"_base-${java.util.UUID.randomUUID().toString.take(12)}"
    writeRun(spark, store, snap, col, base, SelRange(0L, nrows, 1L), Seq.empty,
      s"index build $col")
    // a full build collapses every delta generation into the new base.
    // Commit-until-win: a rebuild reflects the complete CURRENT table, so
    // it must end up the effective meta even if incremental refreshes race
    // it (their metas reference the OLD base — self-consistent, loser).
    val m = IdxMeta(nrows, snap.version, Seq.empty, base)
    var attempt = 0
    var done = false
    while (!done && attempt < 16) {
      val e = if (exists(store, col)) readMetaEpoch(store, col)._2 else 0L
      done = commitMeta(store, col, m, e + 1)
      attempt += 1
    }
    require(done, s"index build on $col lost ${attempt} meta commit races")
    gcSweep(store, col)
  }

  /** Most raw (decoded) bytes a run built on the driver may read: the
    * planned chunks' `ChunkMeta.rawBytes` plus, for a gen merge, the old
    * gens' footer sizes. It keeps 2^15 wide values from pulling gigabytes
    * onto the driver. Measured at local[4] (min / median of 7 alternating
    * builds): 2^15 strings of 500 bytes (16.5 MB raw) build in 192 / 230 ms
    * on the driver against 288 / 332 ms by Spark; 2^15 longs in 41 / 52 ms
    * against 285 / 352 ms.
    */
  final val DriverBytes: Long = 16L << 20

  /** Write the run directory `run` of `col`'s index: the store's rows in
    * `sel` plus the rows of the delta gens `merged`, sorted by (value,
    * row_id). The reference argsorts a column in memory when it fits and
    * mergesorts externally past `cache_mem` (column.py:483-559); here a run
    * within `Decode.driverBound` (rows, and raw bytes) is decoded on the
    * driver (the store's chunk decoder, the gens through [[RunFile]]),
    * sorted by Spark's own ordering and written by [[RunFile.write]] with
    * no Spark job. Larger runs take one distributed range sort:
    * `repartitionByRange(value, row_id) → sortWithinPartitions` written as
    * Parquet, partitions scaling with the rows.
    */
  private def writeRun(spark: SparkSession, store: ColumnStore, snap: Snapshot, col: String,
      run: String, sel: SelRange, merged: Seq[(String, Long)], what: String): Unit = {
    val d = dir(store, col)
    val schema = tableSchema(snap.spec, col)
    val rows = sel.stop - sel.start + merged.map(_._2).sum
    val (maxRows, maxBytes) = Decode.driverBound.value
    if (rows <= maxRows) {
      val (units, _) = snap.planUnits(Seq(col), sel)
      val opened = mutable.ArrayBuffer.empty[RunFile]
      try {
        for ((g, _) <- merged; f <- RunFile.files(s"$d/$g")) opened += new RunFile(s"$d/$g/$f")
        val bytes = units.flatMap(_.colChunks(col)).map(_.rawBytes).sum +
          opened.map(_.rawBytes).sum
        if (bytes <= maxBytes) {
          val dt = schema.head.dataType
          val buf = new mutable.ArrayBuffer[(Any, Long)](rows.toInt)
          units.foreach { u =>
            val r = new Decode.ColumnarUnitReader(u, snap.spec, Seq(col, "_row_id"))
            try r.rows.foreach(row => buf += ((InternalRow.copyValue(row.get(0, dt)), row.getLong(1))))
            finally r.close()
          }
          for (f <- opened; g <- 0 until f.groups) f.foreach(g, dt)((v, id) => buf += ((v, id)))
          RunFile.write(spark, s"$d/$run", schema, buf.sorted(ordering(dt, desc = false)))
          return
        }
      } finally opened.foreach(_.close())
    }
    Jobs.described(spark, what) {
      val fresh = store.read(spark, Seq(col), sel)
        .select(functions.col(col).as(ValueCol), functions.col("_row_id").as(RowIdCol))
      val df = if (merged.isEmpty) fresh
        else spark.read.schema(schema).parquet(merged.map(g => s"$d/${g._1}"): _*).unionAll(fresh)
      // ~2M rows per sort partition; bounded so tiny runs get 1 partition
      val parts = math.max(1, math.min(2048, (rows / (2L << 20)).toInt + 1))
      df.repartitionByRange(parts, asc(ValueCol), asc(RowIdCol))
        .sortWithinPartitions(asc(ValueCol), asc(RowIdCol))
        .write.mode("overwrite").parquet(s"$d/$run")
    }
  }

  /** Full path of the meta's base-sort parquet. */
  private[graft] def basePath(store: ColumnStore, col: String): String =
    s"${dir(store, col)}/${readMeta(store, col).base}"

  def drop(store: ColumnStore, col: String): Unit =
    FsIO.delete(dir(store, col), recursive = true)

  /** Names of the live delta generations (empty after a full build). */
  private[graft] def deltaGens(store: ColumnStore, col: String): Seq[String] =
    readMeta(store, col).gens.map(_._1)

  /** Every parquet path of the index: the base sort plus the meta-listed
    * delta generations. ALL index readers (API lookups, DSv2 routing) go
    * through this — gen dirs are underscore-prefixed, so the base read
    * never double-counts them, and unlisted (orphaned) gens are invisible.
    *
    * The schema is declared explicitly (it is fixed by construction:
    * `value` = the column's type, `row_id` = long), so the read skips the
    * per-call parquet footer inference — index lookups are issued once per
    * query operator and the footer round-trips were pure fixed cost.
    */
  def table(spark: SparkSession, store: ColumnStore, col: String): DataFrame = {
    val d = dir(store, col)
    val m = readMeta(store, col)
    val paths = (m.base +: m.gens.map(_._1)).map(p => s"$d/$p")
    spark.read.schema(tableSchema(store.snapshot.spec, col)).parquet(paths: _*)
  }

  private def tableSchema(spec: graft.store.TableSpec, col: String): StructType =
    StructType(Seq(
      StructField(ValueCol, ColumnStore.sparkType(spec.col(col).ptype)),
      StructField(RowIdCol, LongType)))

  /** Bring the index up to date after APPENDS by sorting only the rows the
    * build has not seen — O(new rows), not a full re-sort (the reference
    * rebuilds from scratch on every append, column.py:615-626; at 100 TB a
    * per-append full re-sort of the whole column is the single most
    * expensive faithful behavior, so this deliberately improves on it).
    *
    * LSM shape: each refresh writes the new rows, value-sorted, as a delta
    * GENERATION (`_gen-*` dir) and commits it by listing it in the meta —
    * the meta write is the atomic commit point, so readers never observe a
    * half-written generation and a crashed attempt leaves only an orphan
    * dir the next refresh GCs. Each generation is itself range-sorted, so
    * Parquet row-group pruning applies per gen. Every run — delta, merge or
    * rebuild — is written by [[writeRun]]: on the driver when it is small,
    * as the reference argsorts a column that fits in memory, else by one
    * distributed range sort.
    *
    * Maintenance is amortized O(delta), NEVER periodically O(table):
    *  - more than `maxDeltaGens` gens → MERGE all gens + the new rows into
    *    one generation (cost = total delta rows, bounding per-scan file
    *    count without touching the base);
    *  - deltas reaching ~1/4 of the table → full rebuild restores one
    *    globally-sorted base (amortized: O(table) work per O(table/4) rows
    *    appended — the LSM compaction trade).
    *
    * Falls back to a full rebuild when the column's values were updated IN
    * PLACE since the build (its last update is newer than the version the
    * build read — deltas can't express changed values); updates of other
    * columns leave the index as it is.
    */
  def refresh(spark: SparkSession, store: ColumnStore, col: String,
      maxDeltaGens: Int = 8): Unit = {
    var attempt = 0
    var done = false
    while (!done && attempt < 4) {
      done = refreshOnce(spark, store, col, maxDeltaGens)
      attempt += 1 // lost a CAS race: re-read the winner — usually the
                   // racing refresh already covered our rows → no-op
    }
    require(done, s"index refresh on $col lost ${attempt} meta commit races")
  }

  /** One refresh attempt against the current meta winner. Returns false
    * IFF the final CAS commit lost to a concurrent writer (the caller
    * re-reads and retries); every other exit is a clean completion.
    */
  private def refreshOnce(spark: SparkSession, store: ColumnStore, col: String,
      maxDeltaGens: Int): Boolean = {
    if (!exists(store, col)) return true
    val (m, epoch) = readMetaEpoch(store, col)
    // the one snapshot this refresh reads; a build from this version or a
    // newer one is already as fresh as this refresh could make it
    val snap = store.snapshot
    val n = snap.nrows
    val unchanged = m.version >= snap.updatedAt(col) // no update of col since the build
    if (m.version >= snap.version || (m.rows == n && unchanged)) return true
    val newRows = n - m.rows
    if (!unchanged || newRows <= 0 || (m.deltaRows + newRows) * 4L > n) {
      create(spark, store, col, overwrite = true) // commit-until-win inside
      return true
    }
    // past maxDeltaGens, collapse every gen + the new rows into ONE
    // generation — reads only delta data, the base sort is untouched
    val merged = if (m.gens.size >= maxDeltaGens) m.gens else Seq.empty
    val gen = s"_gen-${java.util.UUID.randomUUID().toString.take(12)}"
    writeRun(spark, store, snap, col, gen, SelRange(m.rows, n, 1L), merged,
      s"index refresh $col")
    val kept = if (merged.isEmpty) m.gens else Seq.empty
    // COMMIT (CAS): the epoch-named meta makes the new generation (and, on
    // merge, the disappearance of the old ones) visible atomically; losing
    // the race leaves our gen as an unreferenced orphan for the sweep
    // below to tombstone — a reader that sampled our meta mid-race still
    // has every dir it references.
    if (!commitMeta(store, col,
        IdxMeta(n, snap.version, kept :+ (gen, newRows + merged.map(_._2).sum), m.base),
        epoch + 1))
      return false
    gcSweep(store, col)
    true
  }

  /** GC: `_gen-*` and `_base-*` dirs no longer referenced — merged-away
    * gens, superseded bases, and orphans of crashed/lost attempts. GRACE
    * PERIOD from DE-LISTING (like table-format snapshot expiry): a reader
    * that loaded a previous meta may still be mid-read on a just-delisted
    * dir, and the dir's own age says nothing about that — so the first
    * sweep that finds a dir unreferenced writes a tombstone (starting the
    * clock), and only a LATER sweep deletes it once the tombstone outlives
    * the grace window. A tombstone is an empty file `_gone-<millis>-<dir>`
    * beside the dirs, so the sweep's one listing gives every tombstone's
    * age: its metadata ops do not grow with the dirs waiting out the grace.
    *
    * live = dirs referenced by ANY meta file still present — NOT just the
    * caller's commit: in a same-epoch CAS tie both writers can transiently
    * believe they won, and sweeping with only one's view would tombstone
    * (then delete) a dir the effective winner references. Lost-race metas
    * are themselves swept by later commits, after which their orphan dirs
    * become unreferenced and age out here.
    */
  private[graft] def gcSweep(store: ColumnStore, col: String): Unit = {
    val d = dir(store, col)
    val grace = sys.props.get("graft.index.gc.graceMs").map(_.toLong)
      .getOrElse(15L * 60 * 1000)
    val now = System.currentTimeMillis()
    val names = FsIO.list(d)
    val live: Set[String] = names.collect { case n @ MetaName(_, _) => n }.flatMap { name =>
      try { val m = loadMeta(s"$d/$name"); m.base +: m.gens.map(_._1) }
      catch { case _: Exception => Nil }
    }.toSet
    val tombs = names.collect { case n @ Tombstone(at, of) => of -> (at.toLong, n) }.toMap
    def sweep(body: => Unit): Unit =
      try body catch { case _: Exception => () } // GC is best-effort, never fatal
    val dirs = names.filter(f => f.startsWith("_gen-") || f.startsWith("_base-")).toSet
    dirs.foreach { f =>
      sweep(tombs.get(f) match {
        // an IN-FLIGHT dir can be tombstoned by a concurrent sweep before
        // its writer commits; once committed (live) the stale tombstone
        // must go, or a LATER delisting would delete the dir instantly
        // instead of after a fresh grace window
        case Some((_, t)) if live(f) => FsIO.delete(s"$d/$t")
        case None if !live(f) =>
          // tombstone now, delete on a LATER sweep once it outlives the
          // grace — never in the same pass: a dir without a meta entry
          // may belong to a writer that simply has not committed yet
          FsIO.writeAtomic(s"$d/_gone-$now-$f", Array.emptyByteArray)
        case Some((at, t)) if now - at >= grace =>
          FsIO.delete(s"$d/$f", recursive = true)
          FsIO.delete(s"$d/$t")
        case _ => ()
      })
    }
    // a tombstone whose dir is gone (a sweep stopped between the two deletes)
    tombs.foreach { case (f, (_, t)) => if (!dirs(f)) sweep(FsIO.delete(s"$d/$t")) }
  }

  private val Tombstone = """_gone-(\d+)-(.+)""".r

  private def requireIndex(store: ColumnStore, col: String): Unit =
    require(exists(store, col),
      s"column $col has no index (reference raises, column.py:476-481)")

  // ------------------------------------------------------- query surface
  // All return a DataFrame[row_id: bigint] in value-then-row_id order
  // (the reference returns Indices slices of the value-sorted permutation).

  /** Most index rows read or written on the driver: a consult's
    * footer-kept rows, and the rows of a run a build, refresh or merge
    * writes (see [[writeRun]]; `DriverBytes` bounds its bytes too). Both
    * reach the code as the default of `Decode.driverBound`.
    * Measured at local[4] on a one-column long index: a consult matching
    * every one of 2^15 rows plans and collects its local id frame as fast
    * as the distributed read (≈110 ms each), and at 2^16 takes ≈180 ms
    * against ≈100 ms; a local frame costs ≈2-3 µs per id. Selective
    * consults, range routing and top-N stay faster on the driver well past
    * this (≈30 ms against ≈90-250 ms at 2^16 rows).
    */
  final val DriverRows: Int = 1 << 15

  /** A pushed-down filter → its condition over the index table's `value`
    * column: the one translation shared by the facade predicates and DSv2
    * routing (`GraftScan`), evaluated on the driver or by the distributed
    * read. None for shapes an index cannot answer.
    */
  private[graft] def indexCond(f: Filter): Option[Expression] = {
    val v = UnresolvedAttribute(ValueCol)
    f match {
      case sources.GreaterThan(_, x) => Some(expressions.GreaterThan(v, Literal(x)))
      case sources.GreaterThanOrEqual(_, x) => Some(expressions.GreaterThanOrEqual(v, Literal(x)))
      case sources.LessThan(_, x) => Some(expressions.LessThan(v, Literal(x)))
      case sources.LessThanOrEqual(_, x) => Some(expressions.LessThanOrEqual(v, Literal(x)))
      case sources.EqualTo(_, x) => Some(expressions.EqualTo(v, Literal(x)))
      case sources.In(_, xs) => Some(expressions.In(v, xs.toSeq.map(Literal(_))))
      case sources.Not(sources.EqualTo(_, x)) =>
        Some(expressions.Not(expressions.EqualTo(v, Literal(x))))
      case sources.And(l, r) =>
        for (a <- indexCond(l); b <- indexCond(r)) yield expressions.And(a, b)
      case _ => None
    }
  }

  private val idSchema = StructType(Seq(StructField(RowIdCol, LongType)))

  /** Row ids of `col`'s index rows satisfying every filter, as
    * DataFrame[row_id] — a local frame in (value, row_id) order when the
    * driver answers (see [[lookup]]), else the distributed index read.
    */
  def consult(spark: SparkSession, store: ColumnStore, col: String,
      filters: Seq[Filter]): DataFrame =
    lookup(spark, store, col, filters) match {
      case Left(ids) => InternalRows.local(spark, ids.map(InternalRow(_)).toSeq, idSchema)
      case Right(df) => df
    }

  /** The consult. Opens the effective meta's run files (base parts and
    * delta gens) and keeps the row groups whose footer min/max pass the
    * store's zone-map test of the filters (`GraftScan.colBounds`) — the
    * reference's bisect of its `index1` fences (column.py:584-613). When
    * the kept groups hold at most the rows of `Decode.driverBound`, their
    * rows are read here and filtered by Spark's own predicate (its literal
    * coercion, NaN and string order): Left(the matching row ids, in
    * (value, row_id) order, or ascending when `valueOrder` is false).
    * Otherwise Right(the distributed `where(cond)` over the index table),
    * the only shape for id sets too large for the driver.
    */
  private[graft] def lookup(spark: SparkSession, store: ColumnStore, col: String,
      filters: Seq[Filter], valueOrder: Boolean = true): Either[Array[Long], DataFrame] = {
    requireIndex(store, col)
    val cond = filters.map(f => indexCond(f).getOrElse(
      throw new IllegalArgumentException(s"not an index predicate: $f")))
      .reduce[Expression](expressions.And(_, _))
    val zone = GraftScan.colBounds(filters.flatMap(GraftScan.flatAnd)
      .filter(GraftScan.prunable(store.snapshot.spec, _)))
    // a group holding a NaN has no float stats (parquet-java drops them), so
    // it is kept: NaN sorts above +Inf and matches any filter without an
    // upper bound
    def mayMatch(f: RunFile, g: Int): Boolean =
      f.stats(g).forall { case (k, mn, mx) => zone.mayMatch(k, mn, mx) }
    val opened = mutable.ArrayBuffer.empty[RunFile]
    try {
      val kept = runFiles(store, col).flatten.map { p =>
        val f = new RunFile(p)
        opened += f
        f -> (0 until f.groups).filter(mayMatch(f, _))
      }
      if (kept.map { case (f, gs) => gs.map(f.rowCount).sum }.sum > Decode.driverBound.value._1)
        Right(table(spark, store, col).where(InternalRows.column(cond)).select(RowIdCol))
      else {
        val schema = tableSchema(store.snapshot.spec, col)
        val dt = schema.head.dataType
        val pred = InternalRows.predicate(spark, schema, cond)
        val row = new GenericInternalRow(2)
        val hits = mutable.ArrayBuffer.empty[(Any, Long)]
        for ((f, gs) <- kept; g <- gs) f.foreach(g, dt) { (v, id) =>
          row.update(0, v); row.setLong(1, id)
          if (pred.eval(row)) hits += ((v, id))
        }
        // each run is already in order: the sort merges them
        Left(if (valueOrder) hits.sorted(ordering(dt, desc = false)).map(_._2).toArray
          else hits.map(_._2).toArray.sorted)
      }
    } finally opened.foreach(_.close())
  }

  /** The k row ids `ORDER BY col [DESC] LIMIT k` keeps — value order, ties
    * by ascending row id, as the distributed sort + limit picks them —
    * sorted ascending. Read on the driver: each run gives its own top k
    * (ascending: its first k rows; descending: its last rows back past the
    * k-th value's ties) and the runs merge. Distributed sort + limit when k
    * or the rows read would pass the rows of `Decode.driverBound`.
    */
  private[graft] def topN(spark: SparkSession, store: ColumnStore, col: String,
      desc: Boolean, k: Int): Array[Long] =
    driverTopN(store, col, desc, k).getOrElse {
      val v = if (desc) functions.col(ValueCol).desc else functions.col(ValueCol).asc
      Jobs.described(spark, s"index topN $col")(
        table(spark, store, col).orderBy(v, functions.col(RowIdCol).asc)
          .limit(k).select(RowIdCol).collect().map(_.getLong(0)).sorted)
    }

  private def driverTopN(store: ColumnStore, col: String, desc: Boolean,
      k: Int): Option[Array[Long]] = {
    val bound = Decode.driverBound.value._1
    if (k > bound) return None
    val dt = tableSchema(store.snapshot.spec, col).head.dataType
    val byValue = TypeUtils.getInterpretedOrdering(dt)
    var read = 0L
    val candidates = mutable.ArrayBuffer.empty[(Any, Long)]
    for (run <- runFiles(store, col)) {
      // this run's rows in walk order: from its first row (asc) or its last
      // row backwards (desc), a whole row group at a time
      val walked = mutable.ArrayBuffer.empty[(Any, Long)]
      // descending, rows tied with the k-th value hold smaller row ids
      // further back, so the walk goes on past them
      def enough: Boolean = walked.size >= k &&
        (!desc || byValue.compare(walked.last._1, walked(k - 1)._1) < 0)
      val files = if (desc) run.reverse else run
      val it = files.iterator
      while (!enough && it.hasNext) {
        val f = new RunFile(it.next())
        try {
          val gs = if (desc) (0 until f.groups).reverse else 0 until f.groups
          val g = gs.iterator
          while (!enough && g.hasNext) {
            val rows = mutable.ArrayBuffer.empty[(Any, Long)]
            f.foreach(g.next(), dt)((v, id) => rows += ((v, id)))
            read += rows.size
            if (read > bound) return None
            walked ++= (if (desc) rows.reverseIterator else rows)
          }
        } finally f.close()
      }
      candidates ++= (if (desc) walked else walked.take(k))
    }
    Some(candidates.sorted(ordering(dt, desc)).take(k).map(_._2).toArray.sorted)
  }

  /** Spark's sort order over (value, row_id): value ascending or
    * descending, then row id ascending.
    */
  private def ordering(dt: DataType, desc: Boolean): Ordering[(Any, Long)] = {
    val byValue = TypeUtils.getInterpretedOrdering(dt)
    (a, b) => {
      val c = byValue.compare(a._1, b._1)
      if (c != 0) (if (desc) -c else c) else java.lang.Long.compare(a._2, b._2)
    }
  }

  /** Every run of the effective meta — the base, then each delta gen — as
    * its part files in range order. A run always holds a part file (Spark
    * writes a schema-only one for an empty frame), so none means the run
    * is gone: fail like a read of it, never answer "no rows".
    */
  private def runFiles(store: ColumnStore, col: String): Seq[Seq[String]] = {
    val d = dir(store, col)
    val m = readMeta(store, col)
    (m.base +: m.gens.map(_._1)).map { r =>
      val files = RunFile.files(s"$d/$r")
      if (files.isEmpty) throw new java.io.FileNotFoundException(s"index run $d/$r is missing")
      files.map(f => s"$d/$r/$f")
    }
  }

  private def cmp(spark: SparkSession, s: ColumnStore, c: String, f: Filter): DataFrame =
    consult(spark, s, c, Seq(f))

  def gt(spark: SparkSession, s: ColumnStore, c: String, v: Any): DataFrame =
    cmp(spark, s, c, sources.GreaterThan(c, v))
  def ge(spark: SparkSession, s: ColumnStore, c: String, v: Any): DataFrame =
    cmp(spark, s, c, sources.GreaterThanOrEqual(c, v))
  def lt(spark: SparkSession, s: ColumnStore, c: String, v: Any): DataFrame =
    cmp(spark, s, c, sources.LessThan(c, v))
  def le(spark: SparkSession, s: ColumnStore, c: String, v: Any): DataFrame =
    cmp(spark, s, c, sources.LessThanOrEqual(c, v))
  def eq(spark: SparkSession, s: ColumnStore, c: String, v: Any): DataFrame =
    cmp(spark, s, c, sources.EqualTo(c, v))
  def ne(spark: SparkSession, s: ColumnStore, c: String, v: Any): DataFrame =
    cmp(spark, s, c, sources.Not(sources.EqualTo(c, v)))

  /** All four interval types (pycolumns between, column.py:841-914):
    * "[]" closed, "[)" half-open right, "(]" half-open left, "()" open.
    */
  def between(spark: SparkSession, s: ColumnStore, c: String, lo: Any, hi: Any,
      interval: String = "[]"): DataFrame = {
    val fs = interval match {
      case "[]" => Seq(sources.GreaterThanOrEqual(c, lo), sources.LessThanOrEqual(c, hi))
      case "[)" => Seq(sources.GreaterThanOrEqual(c, lo), sources.LessThan(c, hi))
      case "(]" => Seq(sources.GreaterThan(c, lo), sources.LessThanOrEqual(c, hi))
      case "()" => Seq(sources.GreaterThan(c, lo), sources.LessThan(c, hi))
      case other => throw new IllegalArgumentException(s"bad interval '$other'")
    }
    consult(spark, s, c, fs)
  }

  /** IN-list (pycolumns match, column.py:688-729). Large probe sets should
    * use `matchDf` (broadcast semi join) instead.
    */
  def matchIn(spark: SparkSession, s: ColumnStore, c: String, values: Seq[Any]): DataFrame =
    cmp(spark, s, c, sources.In(c, values.toArray))

  /** IN via join for large probe sets: broadcast left-semi join against the
    * index (SURVEY.md Q4 mapping).
    */
  def matchDf(spark: SparkSession, s: ColumnStore, c: String, probe: DataFrame): DataFrame = {
    val p = probe.toDF(ValueCol).distinct()
    requireIndex(s, c)
    table(spark, s, c)
      .join(broadcast(p), Seq(ValueCol), "left_semi")
      .select(RowIdCol)
  }
}

/** Boolean combination of row-id sets (pycolumns Indices & / |,
  * indices.py:123-139): sorted-unique contract preserved structurally —
  * intersect/union produce distinct ids; ordering applied on materialize.
  */
object RowIds {
  def and(a: DataFrame, b: DataFrame): DataFrame = a.intersect(b)
  def or(a: DataFrame, b: DataFrame): DataFrame = a.union(b).distinct()

  /** Materialize as a sorted Array[Long] (Indices are sorted unique int64).
    *
    * DRIVER-MATERIALIZATION CONTRACT: this is an UNBOUNDED `collect()`,
    * provided only to honor the pycolumns `Indices` array surface
    * (indices.py materializes eagerly) — tests and small interactive
    * results. Engine paths must never call it: keep row-id sets as
    * DataFrames and compose them with [[graft.api.Columns.gather]] /
    * `Index.matchDf`, which stay distributed at any cardinality.
    */
  def collectSorted(df: DataFrame): Array[Long] =
    df.distinct().orderBy(Index.RowIdCol).collect().map(_.getLong(0))
}
