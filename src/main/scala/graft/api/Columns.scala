package graft.api

import graft.index.{Index, RowIds}
import graft.store._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import scala.collection.mutable

/** Row specifier mirroring pycolumns' accepted forms
  * (util.extract_rows, /root/reference/pycolumns/util.py:6-57):
  * everything / slice with optional step / explicit rows / scalar —
  * with negative-index wraparound against nrows.
  */
sealed trait Rows
case object AllRows extends Rows

/** `start`/`stop` default to [[Slice.Unspecified]] (Python's empty slice
  * field): for step > 0 that means start=0 / stop=nrows; for step < 0 it
  * means start=last row / stop=before row 0. A dedicated sentinel keeps an
  * EXPLICIT `Slice(0, stop, -1)` representable — Python `s[0::-1]` yields
  * at most the first element, not the whole table reversed.
  */
final case class Slice(start: Long = Slice.Unspecified,
    stop: Long = Slice.Unspecified, step: Long = 1L) extends Rows
object Slice {
  val Unspecified: Long = Long.MinValue
}
final case class RowList(ids: Seq[Long]) extends Rows
final case class RowAt(id: Long) extends Rows

object Rows {
  /** Canonicalize to a store Selection (negative wraparound like numpy).
    *
    * step < 0 follows Python slice semantics via an explicit id list, the
    * way the reference converts stepped slices with `np.arange`
    * (util.py:60-90): ids descend from `start` (default = last row when
    * left at the `Slice()` default) down to but excluding `stop`
    * (default = before row 0). Request order is preserved on read via the
    * `_pos` scatter-back, so `Slice(step = -1)` reads the table reversed.
    */
  def toSelection(r: Rows, nrows: Long): Selection = r match {
    case AllRows => SelAll
    case Slice(start0, stop0, step) if step < 0 =>
      val start = // unspecified = last row; explicit 0 = first row only
        if (start0 == Slice.Unspecified) nrows - 1
        else if (start0 < 0) nrows + start0
        else math.min(start0, nrows - 1)
      val stop = // exclusive lower end; unspecified = run to row 0
        if (stop0 == Slice.Unspecified) -1L
        else if (stop0 < 0) nrows + stop0
        else stop0
      val ids = mutable.ArrayBuilder.make[Long]
      var i = start
      while (i > stop && i >= 0) { ids += i; i += step }
      val arr = ids.result()
      SelIds(arr, Array.tabulate(arr.length)(_.toLong))
    case Slice(start0, stop0, step) =>
      require(step > 0, "slice step cannot be 0")
      val start =
        if (start0 == Slice.Unspecified) 0L
        else if (start0 < 0) math.max(0L, nrows + start0)
        else start0
      val stop =
        if (stop0 == Slice.Unspecified) nrows
        else if (stop0 < 0) nrows + stop0
        else math.min(stop0, nrows)
      SelRange(start, math.max(start, stop), step)
    case RowList(ids0) =>
      val ids = ids0.map(i => if (i < 0) i + nrows else i).toArray
      ids.foreach(i => require(i >= 0 && i < nrows, s"row $i out of bounds [0,$nrows)"))
      SelIds(ids, Array.tabulate(ids.length)(_.toLong))
    case RowAt(id0) =>
      val id = if (id0 < 0) id0 + nrows else id0
      require(id >= 0 && id < nrows, s"row $id out of bounds [0,$nrows)")
      SelIds(Array(id), Array(0L))
  }
}

object Columns {
  /** Open an existing store directory (pycolumns Columns(coldir, mode)):
    * mode "r" is read-only — every mutating call raises, matching the
    * reference's IOError contract (tests/test_access.py:263-274).
    */
  def open(spark: SparkSession, root: String, mode: String = "r+"): Columns =
    new Columns(spark, ColumnStore.open(root), mode)

  def create(spark: SparkSession, root: String, spec: TableSpec): Columns =
    new Columns(spark, ColumnStore.create(root, spec))

  /** Create from a DataFrame, inferring the schema (TableSchema.from_array
    * analogue) and writing segment 0.
    */
  def fromDataFrame(spark: SparkSession, root: String, df: DataFrame,
      order: OrderMode = AsIs, targetChunkBytes: Long = 1L << 20,
      chunkRows: Int = 0, lineage: String = ""): Columns = {
    val c = create(spark, root,
      ColumnStore.specFromSchema(df.schema, targetChunkBytes, chunkRows))
    c.append(df, order, lineage)
    c
  }

  def exists(root: String): Boolean = ColumnStore.exists(root)
}

/** User-facing facade — the `pycolumns.Columns` equivalent (SURVEY.md §2.1).
  * All heavy operations are Spark jobs on the wrapped ColumnStore.
  */
class Columns(val spark: SparkSession, val store: ColumnStore,
    val mode: String = "r+") {
  require(mode == "r" || mode == "r+", s"bad mode '$mode' (use 'r' or 'r+')")

  def root: String = store.root
  def nrows: Long = store.snapshot.nrows
  def columnNames: Seq[String] = store.snapshot.spec.colNames
  def verify(): Unit = store.verify()

  /** Directory-structure listing (pycolumns Columns.list, columns.py:854-886):
    * columns as `- name`, meta entries as `- {name}`, sub-tables indented
    * recursively with a trailing slash.
    */
  def list(full: Boolean = false, indent: String = "", isRoot: Boolean = true): String = {
    val sb = new StringBuilder
    if (isRoot && !full) {
      val nc = columnNames.size
      val nm = metaNames.size
      if (nc > 0 || nm > 0) {
        val parts = Seq(
          if (nc > 0) Some(s"$nc columns") else None,
          if (nm > 0) Some(s"$nm metadata") else None).flatten
        sb.append(("root has" +: parts).mkString(" ")).append('\n')
      }
    }
    if (full) {
      columnNames.foreach(n => sb.append(indent).append("- ").append(n).append('\n'))
      metaNames.foreach(n => sb.append(indent).append("- {").append(n).append("}\n"))
    }
    subNames.foreach { n =>
      sb.append(indent).append(n).append("/\n")
      sb.append(sub(n).list(full, indent + "  ", isRoot = false))
    }
    sb.toString
  }

  /** The reference's `reload()` for stores mutated by another process. A
    * no-op here: every read already takes the store's newest published
    * version.
    */
  def reload(): Columns = this

  private[graft] def requireWritable(): Unit =
    if (mode == "r") throw new java.io.IOException(
      s"store opened in read-only mode 'r' (reference raises IOError)")

  // --------------------------------------------------------------- write

  private var deferIndexRefresh = false

  def append(df: DataFrame, order: OrderMode = AsIs, lineage: String = ""): Unit = {
    requireWritable()
    store.append(spark, df, order, lineage)
    requestIndexRefresh()
  }

  /** Defer index rebuilds until the block exits (pycolumns `updating()`
    * context, columns.py:992-1002): queries inside the block legally see
    * the stale index snapshot (tests/test_create_index.py:164-185).
    * Reentrant: a nested `updating{}` keeps the outer deferral — only the
    * OUTERMOST exit triggers the batched rebuild.
    */
  def updating[T](f: Columns => T): T = {
    val outer = deferIndexRefresh
    deferIndexRefresh = true
    try {
      val out = f(this)
      if (!outer) {
        deferIndexRefresh = false
        requestIndexRefresh()
      }
      out
    } finally deferIndexRefresh = outer
  }

  /** Bring every index up to date unless inside `updating{}`. `Index.refresh`
    * decides from the store version: no-op while fresh, the INCREMENTAL
    * path after appends (sort just the new rows), a full rebuild after an
    * in-place update (changed values can't be expressed as a delta).
    */
  private[graft] def requestIndexRefresh(): Unit =
    if (!deferIndexRefresh) {
      val dirs = FsIO.list(s"$root/${Format.IndexDir}").toSet // one listing, not one per column
      columnNames.filter(c => dirs(c) && Index.exists(store, c))
        .foreach(Index.refresh(spark, store, _))
    }

  // ---------------------------------------------------------------- read

  /** Contiguous reads (everything / step-1 slices) route through the DSv2
    * scan, with the `_row_id` range pushed down to the chunk pruning.
    * Id-gathers (`_pos` request-position contract) and stepped slices read
    * through `ColumnStore.read`. Both decode with the same columnar reader.
    */
  def read(columns: Seq[String] = Seq.empty, rows: Rows = AllRows): DataFrame = {
    // `_row_id` is ALWAYS the first output column on both routes; tolerate a
    // caller listing it explicitly by stripping it here — otherwise the DSv2
    // route would emit it twice (every later reference AMBIGUOUS) while the
    // store route raised from planUnits. One contract, either route.
    val requested = columns.filterNot(_ == "_row_id")
    val idOnly = columns.nonEmpty && requested.isEmpty
    def dsv2(where: Option[org.apache.spark.sql.Column]): DataFrame = {
      val wanted = if (columns.isEmpty) columnNames else requested
      val base = spark.read.format("graft").load(root)
      val filtered = where.fold(base)(base.where)
      filtered.select((col("_row_id") +: wanted.map(col)): _*)
    }
    Rows.toSelection(rows, nrows) match {
      case SelAll => dsv2(None)
      case SelRange(start, stop, 1L) =>
        dsv2(Some(col("_row_id") >= lit(start) && col("_row_id") < lit(stop)))
      case sel =>
        // idOnly: plan ZERO data columns (ids come from unit metadata — a
        // row-id-only read must not decode the table's chunks)
        val df = store.read(spark, requested, sel, emptyMeansAll = !idOnly)
        if (idOnly) df.select(col("_row_id")) else df
    }
  }

  /** Rows in `orderCol` order (the reference's index IS its sorted read
    * order). The DataFrame ALWAYS carries the Sort node — correctness
    * never depends on the ordered scan engaging — and when it does engage
    * (fresh delta-free index, nothing else pushed) the `OrderedReads`
    * strategy of `GraftExtensions` plans it as one ordered node and
    * Spark's own rules drop the Sort, so the table streams in index order
    * with no shuffle. Every composition stays exact by construction: a
    * `.limit(k)` becomes the TopN pushdown, a pushed filter or a stale
    * index keeps the (real) sort. `_row_id` rides along like `read`.
    */
  def readOrdered(orderCol: String, columns: Seq[String] = Seq.empty,
      descending: Boolean = false): DataFrame = {
    val requested = columns.filterNot(_ == "_row_id")
    val wanted = if (columns.isEmpty) columnNames else requested
    val dirWord = if (descending) "desc" else "asc"
    val raw = spark.read.format("graft")
      .option("ordered", s"$orderCol $dirWord").load(root)
    // sort BEFORE the projection so ordering holds even when the order
    // column is not among the requested ones
    raw.orderBy(if (descending) col(orderCol).desc else col(orderCol).asc)
      .select((col("_row_id") +: wanted.map(col)): _*)
  }

  /** Distributed gather by a row-id DataFrame (the index-query path,
    * SURVEY.md §3.2) — CHUNK-PRUNED: only chunks containing hits are
    * decoded (the reference's whole point, chunks.py:633-669). Adaptive:
    *
    *  1. id count ≤ 4M (`idCollectLimit`): collect ids → `SelIds` read.
    *     Exact pruning; a point query decodes one chunk, not the table.
    *  2. larger: compact ids to coarse global row ranges on executors
    *     (8192-row buckets, ≤ 1M ranges), read `SelRanges`, then a
    *     left-semi join on the ids restores exactness — pruning stays a
    *     performance contract, the join is the correctness one.
    *  3. degenerate (id set spans ~everything): full scan + semi-join on
    *     the broadcast ids, the plan that was always correct.
    */
  def gather(idsDf: DataFrame, columns: Seq[String] = Seq.empty): DataFrame =
    gather(idsDf, columns, idCollectLimit = 1 << 22, rangeGranule = 8192L,
      maxRanges = 1 << 20)

  private[graft] def gather(idsDf: DataFrame, columns: Seq[String],
      idCollectLimit: Int, rangeGranule: Long, maxRanges: Int): DataFrame = {
    Jobs.described(spark, s"gather ${if (columns.isEmpty) "*" else columns.mkString(",")}") {
      // normalize to long once (an int id frame would ClassCastException in
      // getLong below). One job decides the strategy: collect up to limit+1
      // ids — if they all fit, that IS the id set (deduped and sorted here;
      // no separate count pass). A driver-local id frame (an index consult
      // answered on the driver) collects with no job at all.
      val normalized = idsDf.toDF("_row_id")
        .select(col("_row_id").cast("long").as("_row_id"))
      val firstBatch = normalized.limit(idCollectLimit + 1).collect()
      if (firstBatch.length <= idCollectLimit) {
        val sorted = firstBatch.map(_.getLong(0)).distinct.sorted
        store.read(spark, columns,
          SelIds(sorted, Array.tabulate(sorted.length)(_.toLong))).drop("_pos")
      } else {
        // SNAPSHOT the distinct ids: the lineage otherwise re-executes for
        // the bucket pass and the final semi-join — and a nondeterministic
        // source could make the pruning pass and the correctness join
        // disagree, silently dropping rows. The snapshot is an RDD-level
        // cache, NOT Dataset.persist: SQL cache entries sit in the
        // CacheManager until explicitly unpersisted, so repeated large
        // gathers would pin storage memory forever — an RDD cache is
        // released by the ContextCleaner as soon as the caller drops the
        // result. MEMORY_AND_DISK so eviction spills instead of forcing a
        // (nondeterministic) recompute.
        val distinct = normalized.distinct()
        val ids = spark.createDataFrame(
          distinct.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
          distinct.schema)
        val g = math.max(1L, rangeGranule)
        val buckets = ids
          .select((col("_row_id") / lit(g)).cast("long").as("b"))
          .distinct().limit(maxRanges + 1).collect().map(_.getLong(0))
        if (buckets.length > maxRanges) {
          store.read(spark, columns, SelAll).join(broadcast(ids), Seq("_row_id"), "left_semi")
        } else {
          val rs = Ranges.fromBuckets(buckets.sorted, g)
          store.read(spark, columns, SelRanges(rs.map(_._1).toArray, rs.map(_._2).toArray))
            .join(ids, Seq("_row_id"), "left_semi")
        }
      }
    }
  }

  def apply(name: String): GraftColumn = {
    require(columnNames.contains(name), s"no such column $name")
    new GraftColumn(this, name)
  }

  // -------------------------------------------------------------- schema

  def addColumn(c: ColumnSpec): Unit = { requireWritable(); store.addColumn(c) }

  /** Create a column AND write its data in one call — pycolumns
    * `cols['newcol'] = data` ergonomics (columns.py:971-990 routes to
    * create_from_array, columns.py:129-198). `df` must be (_row_id, value);
    * the column type is inferred from the value column; rows not covered by
    * `df` carry `fill` (default fill otherwise). Distributed: the data
    * rides the bulk-update shuffle, never the driver.
    */
  def setColumn(name: String, df: DataFrame, fill: Option[String] = None): Unit = {
    requireWritable()
    require(df.columns.length == 2,
      s"setColumn expects (_row_id, value) columns, got ${df.columns.toSeq}")
    val vType = df.schema.fields(1).dataType
    addColumn(ColumnSpec(name, ColumnStore.ptypeOf(vType).id, fill = fill))
    new GraftColumn(this, name).update(df)
  }

  /** Grow the table to `n` rows, filling new rows with each column's fill
    * value (pycolumns resize/extend, column.py:312-344, C6). Shrinking is
    * rejected like the reference's compressed path (chunks.py:440-470 can
    * only grow).
    */
  def resize(n: Long): Unit = {
    requireWritable()
    val cur = nrows
    require(n >= cur,
      s"cannot shrink $cur -> $n (reference compressed columns cannot shrink)")
    if (n == cur) return
    import org.apache.spark.sql.functions.lit
    val s = store.snapshot.spec
    val cols = s.columns.map { cs =>
      val fv = graft.store.Decode.fillValue(cs)
      val c = fv match {
        case a: Seq[_] => org.apache.spark.sql.functions.typedlit(a.asInstanceOf[Seq[Int]])
        case b: Array[Byte] => lit(b)
        case v => lit(v)
      }
      c.cast(ColumnStore.sparkType(cs.ptype)).as(cs.name)
    }
    val fillDf = spark.range(n - cur).select(cols: _*)
    append(fillDf, AsIs, lineage = s"resize:$cur->$n")
  }

  /** Delete a column: files removed, schema entry dropped (pycolumns
    * delete entry, columns.py:675-711 — S11).
    */
  def dropColumn(name: String): Unit = {
    requireWritable()
    store.dropColumn(name)
  }

  // ---------------------------------------------------------------- meta

  /** Meta entries hold arbitrary JSON (nested objects/lists/numbers —
    * pycolumns metafile.py semantics). Map overloads keep the common flat
    * string-map case ergonomic.
    */
  def metaWrite(name: String, m: JVal): Unit = {
    requireWritable(); store.metaWrite(name, m)
  }
  def metaWrite(name: String, m: Map[String, Any]): Unit =
    metaWrite(name, Json.lift(m))
  def metaRead(name: String): JVal = store.metaRead(name)
  def metaUpdate(name: String, m: JObj): JVal = {
    requireWritable(); store.metaUpdate(name, m)
  }
  def metaUpdate(name: String, m: Map[String, Any]): JVal =
    metaUpdate(name, Json.lift(m).asInstanceOf[JObj])
  def metaNames: Seq[String] = store.metaNames
  def metaDelete(name: String): Unit = { requireWritable(); store.metaDelete(name) }

  // ---------------------------------------------------------- sub-tables

  /** Nested sub-table namespace: `name.cols/` holding an independent store
    * with its own nrows (pycolumns columns.py:433-442; sub-tables 3 deep in
    * tests/test_access.py:228-274).
    */
  def subNames: Seq[String] =
    FsIO.list(root).filter(_.endsWith(".cols")).map(_.stripSuffix(".cols"))

  def sub(name: String): Columns =
    Columns.open(spark, s"$root/$name.cols", mode)

  def createSub(name: String, spec: TableSpec): Columns = {
    requireWritable()
    Columns.create(spark, s"$root/$name.cols", spec)
  }

  def createSubFromDataFrame(name: String, df: DataFrame,
      order: OrderMode = AsIs): Columns = {
    requireWritable()
    Columns.fromDataFrame(spark, s"$root/$name.cols", df, order)
  }

  def dropSub(name: String): Unit = {
    requireWritable()
    FsIO.delete(s"$root/$name.cols", recursive = true)
  }

  // ----------------------------------------------------------- maintain

  def vacuum(): Unit = {
    requireWritable()
    Mutate.vacuum(spark, store)
  }

  /** Merge all segments into one (row ids preserved, indexes stay valid). */
  def compactSegments(numParts: Int = 0): Unit = {
    requireWritable()
    Mutate.compactSegments(spark, store, numParts)
  }

  def storageBytes: Long = Mutate.storageBytes(store)

  def dropStore(): Unit = { requireWritable(); store.dropStore() }
}

/** Single-column facade (pycolumns Column): reads, scatter updates, index
  * lifecycle, and the indexed-predicate surface returning row-id sets.
  */
class GraftColumn(cols: Columns, val name: String) {
  private def spark = cols.spark
  private def store = cols.store

  def read(rows: Rows = AllRows): DataFrame = cols.read(Seq(name), rows)

  /** col[rows] = values (P5). Triggers index rebuild unless inside
    * `updating{}` (reference column.py:360-381).
    */
  def update(ids: Seq[Long], values: Seq[Any]): Unit = {
    cols.requireWritable()
    val n = cols.nrows
    val wrapped = ids.map(i => if (i < 0) i + n else i).toArray
    Mutate.update(spark, store, name, wrapped, values.toArray)
    cols.requestIndexRefresh()
  }

  /** Distributed MERGE-style bulk update from a DataFrame of
    * (_row_id, value) rows — the path for updating 10⁹ rows, where the
    * Seq-based scatter above would ship everything through the driver.
    * One shuffle keyed by target partition; chunks rewritten COW on
    * executors.
    */
  def update(updates: DataFrame): Unit = {
    cols.requireWritable()
    Mutate.updateDf(spark, store, name, updates)
    cols.requestIndexRefresh()
  }

  // ------------------------------------------------------------- index

  def createIndex(overwrite: Boolean = false): Unit = {
    cols.requireWritable()
    Index.create(spark, store, name, overwrite)
  }
  def hasIndex: Boolean = Index.exists(store, name)
  def dropIndex(): Unit = { cols.requireWritable(); Index.drop(store, name) }

  // --------------------------------------------------- indexed queries

  def >(v: Any): DataFrame = Index.gt(spark, store, name, v)
  def >=(v: Any): DataFrame = Index.ge(spark, store, name, v)
  def <(v: Any): DataFrame = Index.lt(spark, store, name, v)
  def <=(v: Any): DataFrame = Index.le(spark, store, name, v)
  def ===(v: Any): DataFrame = Index.eq(spark, store, name, v)
  def =!=(v: Any): DataFrame = Index.ne(spark, store, name, v)
  def between(lo: Any, hi: Any, interval: String = "[]"): DataFrame =
    Index.between(spark, store, name, lo, hi, interval)
  def matchIn(values: Seq[Any]): DataFrame = Index.matchIn(spark, store, name, values)
}
