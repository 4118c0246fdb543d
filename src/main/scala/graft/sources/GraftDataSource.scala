package graft.sources

import graft.index.Index
import graft.store._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{aggregate, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util.{Map => JMap, Set => JSet}
import scala.collection.mutable

/** DataSource V2 connector: `spark.read.format("graft").load(root)` and
  * `df.write.format("graft").mode("append"|"overwrite").save(root)`.
  *
  * Catalyst integration (the Spark-first alternative to the API paths):
  *  - column pruning (SupportsPushDownRequiredColumns) reaches the file
  *    level — unselected columns' chunk files are never opened;
  *  - filter pushdown (SupportsPushDownFilters): `_row_id` comparisons
  *    become row-range pruning, and comparisons on numeric columns prune
  *    CHUNKS through the manifest's per-chunk min/max zone map — the
  *    base-data analogue of Parquet row-group statistics (the reference's
  *    index1 coarse index, pycolumns column.py:584-613). Pushed filters are
  *    also returned as residuals, so Spark re-applies them exactly —
  *    pruning is a performance contract, not a correctness one (same model
  *    as the built-in Parquet source);
  *  - `_row_id` is a METADATA column (SupportsMetadataColumns, like
  *    Iceberg's `_pos`): selectable and filterable by name, but not part of
  *    the table schema — so by-name write resolution matches plain data
  *    frames without a synthetic id column;
  *  - writes (SupportsWrite + BATCH_WRITE/TRUNCATE): each task encodes its
  *    partition with the same PartitionEncoder as the API append path
  *    (pycolumns append surface, columns.py:603-634), the driver commit
  *    publishes the consolidated manifest + commit record. mode("append")
  *    appends a segment (creating the store on first write);
  *    mode("overwrite") truncates first.
  */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  private def root(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft source requires a path"))
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTable.dataSchema(ColumnStore.open(root(options)).snapshot.spec)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftTable(properties.get("path"), Option(schema))

  /** True so `df.write.format("graft").save(newRoot)` passes the frame's
    * schema straight to getTable — create-on-first-write without a store to
    * infer from (reads of existing stores still use the stored spec).
    */
  override def supportsExternalMetadata(): Boolean = true
}

object GraftTable {
  /** Data columns only — `_row_id` is a metadata column, not table schema. */
  def dataSchema(spec: TableSpec): StructType =
    StructType(spec.columns.map(c =>
      StructField(c.name, ColumnStore.sparkType(c.ptype), nullable = false)))

  private[sources] object RowIdColumn extends MetadataColumn {
    override def name: String = "_row_id"
    override def dataType: DataType = LongType
    override def isNullable: Boolean = false
    override def comment: String = "global row id (arrival order)"
  }
}

class GraftTable(root: String, provided: Option[StructType])
    extends Table with SupportsRead with SupportsWrite with SupportsMetadataColumns {
  def this(root: String) = this(root, None)

  override def name(): String = s"graft.`$root`"

  override def schema(): StructType =
    if (ColumnStore.exists(root)) GraftTable.dataSchema(ColumnStore.open(root).snapshot.spec)
    else provided.getOrElse(throw new IllegalArgumentException(
      s"no graft store at $root and no schema provided (write-first creates one)"))

  override def metadataColumns(): Array[MetadataColumn] =
    Array(GraftTable.RowIdColumn)

  override def capabilities(): JSet[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(root, options.getBoolean("useIndex", true),
      options.getLong("maxRowsPerTrigger", -1L),
      Option(options.get("ordered")))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(root, info.schema(), info.queryId())
}

class GraftScanBuilder(root: String, useIndex: Boolean = true,
    maxRowsPerTrigger: Long = -1L, orderedCol: Option[String] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownOffset
    with SupportsPushDownTopN with SupportsPushDownAggregates {

  private val snap = ColumnStore.open(root).snapshot
  private var required: StructType = GraftTable.dataSchema(snap.spec)
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var topN: Option[(String, Boolean, Int)] = None // (col, desc, k)
  private var aggPushed: Option[(StructType, Array[Any])] = None

  /** `ORDER BY col LIMIT k` over a FRESH-indexed column: the scan resolves
    * the k hit row ids from the value-sorted index (a k-row index read —
    * Parquet row-group stats make it read the head/tail run only) and
    * decodes just the chunks containing them — the table is never scanned
    * or sorted. PARTIALLY pushed: the scan returns exactly those k rows in
    * disk order and Spark's final sort of k rows stays, so every fallback
    * (stale index, routing failure) is automatically correct — the scan
    * may return a superset. Declines with residual filters (the filter
    * could drop hit rows, making top-k-by-index a strict subset of the
    * true answer — NOT a superset, so it would be wrong).
    */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    if (!useIndex || pushed.nonEmpty || orders.length != 1 ||
      n <= 0 || n > (1 << 20)) return false
    orders(0).expression() match {
      case r: NamedReference if r.fieldNames.length == 1 &&
          snap.spec.columns.exists(_.name == r.fieldNames()(0)) =>
        val c = r.fieldNames()(0)
        // null ordering irrelevant: graft columns are dense non-null
        if (!graft.index.Index.routableFor(snap, c)) return false
        topN = Some((c, orders(0).direction() == SortDirection.DESCENDING, n))
        true
      case _ => false
    }
  }

  override def isPartiallyPushed(): Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // requiredSchema may include the _row_id metadata column when selected,
    // and may be EMPTY for count(*) — the reader then emits field-less rows
    required = requiredSchema
  }

  /** Bare `df.limit(n)`: clip the scan selection to the first n rows —
    * exact (Spark may drop its Limit node), so a preview of a 10^12-row
    * store reads n rows, not the table.
    */
  override def pushLimit(n: Int): Boolean = { limit = n; true }

  /** `df.offset(n)` (paging): skip the first n rows of the selection at
    * planning time — the skipped rows' chunks are never decoded. Combined
    * with a pushed limit the scan reads exactly rows [offset, offset+k).
    * Row order here is the store's global `_row_id` order (unit order), so
    * the skip is deterministic.
    */
  private var offset: Int = 0
  override def pushOffset(n: Int): Boolean = { offset = n; true }

  /** COMPLETE aggregate pushdown from metadata alone: count(*)/count(col)
    * come from the commit records (columns are dense — no nulls), min/max
    * of numeric/bool columns from the per-partition stat roll-ups. The
    * whole query answers in O(segments) driver metadata with zero chunk
    * reads — at 100 TB that is the difference between milliseconds and a
    * full scan. Declines (falls back to a real scan) whenever any value is
    * not provable: residual filters, group-by, string/binary min-max (the
    * zone maps keep lossy 8-byte prefixes), kind-0 stats, or backfilled
    * partitions without materialized chunks.
    */
  // supportCompletePushDown and pushAggregation both arrive with the same
  // Aggregation instance — memoize so the O(partitions) stat walk runs once
  private var aggMemo: (aggregate.Aggregation, Option[(StructType, Array[Any])]) = null
  private def tryAggregateCached(agg: aggregate.Aggregation): Option[(StructType, Array[Any])] = {
    if (aggMemo == null || !(aggMemo._1 eq agg)) aggMemo = (agg, tryAggregate(agg))
    aggMemo._2
  }

  override def supportCompletePushDown(agg: aggregate.Aggregation): Boolean =
    tryAggregateCached(agg).isDefined

  override def pushAggregation(agg: aggregate.Aggregation): Boolean = {
    aggPushed = tryAggregateCached(agg)
    aggPushed.isDefined
  }

  private def tryAggregate(agg: aggregate.Aggregation): Option[(StructType, Array[Any])] = {
    if (agg.groupByExpressions.nonEmpty || snap.nrows == 0) return None
    // Filtered aggregates stay metadata-only ONLY for consumed `_row_id`
    // range filters (row-exact by construction). Any value filter means a
    // residual Filter node exists and Spark never offers the aggregate —
    // decline defensively anyway.
    if (!pushed.forall(GraftScan.rowIdFilter)) return None
    val nrows = snap.nrows
    val ranges: Seq[(Long, Long)] =
      if (pushed.isEmpty) Seq((0L, nrows))
      else GraftScan.toRanges(GraftScan.planSelection(snap, pushed))
        .map { case (a, b) => (math.max(0L, a), math.min(b, nrows)) }
        .filter { case (a, b) => a < b }
    val full = ranges == Seq((0L, nrows))
    val selCount = ranges.map { case (a, b) => b - a }.sum
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames.length == 1 && snap.spec.columns.exists(_.name == r.fieldNames()(0)) =>
          Some(r.fieldNames()(0))
        case _ => None
      }
    val out = agg.aggregateExpressions.map {
      case _: aggregate.CountStar =>
        Some(StructField("count", LongType, nullable = false) -> (selCount: Any))
      case c: aggregate.Count if !c.isDistinct =>
        // graft columns are dense (no null support) -> count(col) == rows
        fieldOf(c.column).map(_ =>
          StructField("count", LongType, nullable = false) -> (selCount: Any))
      case m: aggregate.Min =>
        fieldOf(m.column).flatMap(cn => (if (full)
            GraftScan.statMinMax(snap, cn, isMin = true)
          else GraftScan.statMinMaxRanged(snap, cn, isMin = true, ranges))
          .map(v => StructField("min", ColumnStore.sparkType(snap.spec.col(cn).ptype),
            nullable = false) -> v))
      case m: aggregate.Max =>
        fieldOf(m.column).flatMap(cn => (if (full)
            GraftScan.statMinMax(snap, cn, isMin = false)
          else GraftScan.statMinMaxRanged(snap, cn, isMin = false, ranges))
          .map(v => StructField("max", ColumnStore.sparkType(snap.spec.col(cn).ptype),
            nullable = false) -> v))
      case s: aggregate.Sum if !s.isDistinct =>
        // exact: integer chunk sums from the manifests, LongType (Spark's
        // sum over any integral column widens to long)
        fieldOf(s.column).flatMap(cn => GraftScan.statSumRanged(snap, cn, ranges)
          .map(v => StructField("sum", LongType, nullable = false) -> (v: Any)))
      case _ => None
    }
    if (out.exists(_.isEmpty)) None // incl. min/max/sum of ∅ (= NULL): real scan
    else Some((StructType(out.map(_.get._1).toIndexedSeq), out.map(_.get._2).toArray))
  }

  /** Accept (for pruning) filters we can evaluate against the zone map;
    * VALUE filters are ALSO returned as residual so Spark re-applies them
    * exactly (chunk pruning is best-effort, like Parquet). `_row_id`
    * comparisons are CONSUMED instead: selection clipping applies them
    * row-exactly on every path (batch planInputPartitions, micro-batch
    * range intersect), and dropping them from the residual removes Spark's
    * Filter node — which is what allows aggregate pushdown over a
    * row-range-filtered scan (V2ScanRelationPushDown only pushes
    * aggregates into a filter-free child).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f =>
      GraftScan.prunable(snap.spec, f) || GraftScan.rowIdFilter(f))
    filters.filterNot(GraftScan.rowIdFilter)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = aggPushed match {
    case Some((schema, values)) => new GraftAggScan(root, schema, values)
    case None => new GraftScan(root, required, pushed, useIndex, limit,
      maxRowsPerTrigger, topN, offset, orderedCol)
  }
}

/** Fully-pushed-down aggregate: one partition emitting the single result
  * row computed on the driver from commit records + stat roll-ups.
  */
class GraftAggScan(root: String, schema: StructType, values: Array[Any])
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftAggScan root=$root, AggPushed: [${schema.fieldNames.mkString(", ")}]"
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes: java.util.OptionalLong = java.util.OptionalLong.of(64L)
    override def numRows: java.util.OptionalLong = java.util.OptionalLong.of(1L)
  }
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = { val n = !emitted; emitted = true; n }
          override def get(): InternalRow =
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              p.asInstanceOf[GraftAggPartition].values.clone())
          override def close(): Unit = ()
        }
    }
}

final case class GraftAggPartition(values: Array[Any]) extends InputPartition

object GraftScan {
  import graft.codec.{PType, Utf8Order}

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[GraftScan])

  /** `f` with its ANDs flattened into conjuncts. */
  private[graft] def flatAnd(f: Filter): Seq[Filter] = f match {
    case sources.And(l, r) => flatAnd(l) ++ flatAnd(r)
    case other => Seq(other)
  }

  /** Column prunability kind: 1 integer stats, 2 float stats, 3 string
    * prefix stats, 0 none. Matches what valueStats records at encode.
    */
  private def colKind(spec: TableSpec, col: String): Int =
    if (col == "_row_id") 1
    else spec.columns.find(_.name == col).map(_.ptype) match {
      case Some(PType.I64) | Some(PType.I32) | Some(PType.I16) | Some(PType.BOOL) => 1
      case Some(PType.F64) | Some(PType.F32) => 2
      case Some(PType.STR) => 3
      case _ => 0
    }

  private def valueOk(spec: TableSpec, c: String, v: Any): Boolean = colKind(spec, c) match {
    case 1 | 2 => v match {
      // a NaN inside an IN-list would poison the min/max envelope (NaN
      // merge keys are unordered); single-comparison NaN is handled in
      // chunkMayMatch, but excluding it here keeps every path trivial
      case d: java.lang.Double => !d.isNaN
      case f: java.lang.Float => !f.isNaN
      case _: Number => true
      case _ => false
    }
    case 3 => v.isInstanceOf[String]
    case _ => false
  }

  def prunable(spec: TableSpec, f: Filter): Boolean = f match {
    case sources.GreaterThan(c, v) => valueOk(spec, c, v)
    case sources.GreaterThanOrEqual(c, v) => valueOk(spec, c, v)
    case sources.LessThan(c, v) => valueOk(spec, c, v)
    case sources.LessThanOrEqual(c, v) => valueOk(spec, c, v)
    case sources.EqualTo(c, v) => valueOk(spec, c, v)
    case sources.In(c, vs) => vs.nonEmpty && vs.forall(valueOk(spec, c, _))
    case sources.StringStartsWith(c, _) => colKind(spec, c) == 3
    case sources.And(l, r) => prunable(spec, l) && prunable(spec, r)
    case _ => false
  }

  /** Upper bound of the starts-with(`prefix`) interval: the 0xff-padded
    * prefix in 8-byte prefix space ("abcd" matches prefix "abc" yet sorts
    * above it, so [p, p] would mis-prune).
    */
  private[sources] final case class PrefixUpper(prefix: String)

  /** Exact total order over IN-list values of one (homogeneous) column:
    * integral kinds on Long, mixed/float numerics through BigDecimal (exact
    * for every finite double and every long; ±Inf compares exactly as a
    * double), strings byte-wise on full UTF-8 (not the lossy 8-byte prefix).
    * NaN never reaches here (valueOk excludes it from prunable IN-lists).
    */
  private val inOrdering: Ordering[Any] = new Ordering[Any] {
    private def isIntegral(n: Number): Boolean = n match {
      case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
           _: java.lang.Byte => true
      case _ => false
    }
    private def big(n: Number): Option[java.math.BigDecimal] = n match {
      case d: java.lang.Double =>
        if (d.isInfinite) None else Some(new java.math.BigDecimal(d.doubleValue))
      case f: java.lang.Float =>
        if (f.isInfinite) None else Some(new java.math.BigDecimal(f.doubleValue))
      case other => Some(java.math.BigDecimal.valueOf(other.longValue))
    }
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (x: Number, y: Number) if isIntegral(x) && isIntegral(y) =>
        java.lang.Long.compare(x.longValue, y.longValue)
      case (x: Number, y: Number) => (big(x), big(y)) match {
        case (Some(bx), Some(by)) => bx.compareTo(by)
        case _ => java.lang.Double.compare(x.doubleValue, y.doubleValue)
      }
      case (x: String, y: String) => Utf8Order.compareStrings(x, y)
      case _ => 0
    }
  }

  /** Typed inclusive bounds implied by a filter: (col, lo, hi). Exclusive
    * comparisons are widened to inclusive — conservative for pruning.
    */
  private def bounds(f: Filter): Option[(String, Option[Any], Option[Any])] = f match {
    case sources.GreaterThan(c, v) => Some((c, Some(v), None))
    case sources.GreaterThanOrEqual(c, v) => Some((c, Some(v), None))
    case sources.LessThan(c, v) => Some((c, None, Some(v)))
    case sources.LessThanOrEqual(c, v) => Some((c, None, Some(v)))
    case sources.EqualTo(c, v) => Some((c, Some(v), Some(v)))
    case sources.In(c, vs) if vs.nonEmpty =>
      // [min, max] envelope of the IN-list — gaps make it conservative.
      // Extremes are picked with TYPE-EXACT comparators: a lossy Double
      // merge key collides for i64 beyond 2^53 and for strings sharing an
      // 8-byte prefix, and a non-extreme endpoint makes the envelope too
      // TIGHT — chunkMayMatch then prunes chunks holding true IN matches
      // (pruning precedes residual filtering, so rows would be dropped).
      Some((c, Some(vs.min(inOrdering)), Some(vs.max(inOrdering))))
    case sources.StringStartsWith(c, p) => Some((c, Some(p), Some(PrefixUpper(p))))
    case _ => None
  }

  /** Can a chunk with these stats contain a value in [lo, hi]? Kind-exact:
    * integer stats compare as Long against an integral bound (no
    * i64-through-double rounding) and, against a floating bound, in that
    * bound's type — as Spark's coercion compares them (the conversion is
    * monotone, so the converted min/max bound the converted values); float
    * as double with Spark NaN-largest semantics, strings on unsigned 8-byte
    * UTF-8 prefixes (strict-inequality pruning only).
    */
  private[sources] def chunkMayMatch(kind: Int, minBits: Long, maxBits: Long,
      lo: Option[Any], hi: Option[Any]): Boolean = kind match {
    case 0 => true
    case 1 =>
      // NaN is largest: `x >= NaN` holds for no integer, `x <= NaN` for all
      val loOk = lo.forall {
        case d: java.lang.Double => maxBits.toDouble >= d
        case f: java.lang.Float => maxBits.toFloat >= f
        case n: Number => maxBits >= n.longValue
        case _ => true
      }
      val hiOk = hi.forall {
        case d: java.lang.Double => d.isNaN || minBits.toDouble <= d
        case f: java.lang.Float => f.isNaN || minBits.toFloat <= f
        case n: Number => minBits <= n.longValue
        case _ => true
      }
      loOk && hiOk
    case 2 =>
      val cMin = java.lang.Double.longBitsToDouble(minBits)
      val cMax = java.lang.Double.longBitsToDouble(maxBits)
      val loOk = lo.forall {
        case n: Number => val d = n.doubleValue; !d.isNaN && cMax >= d
        case _ => true
      }
      // hi = NaN keeps everything (NaN sorts above +Inf in Spark/DuckDB)
      val hiOk = hi.forall {
        case n: Number => val d = n.doubleValue; d.isNaN || cMin <= d
        case _ => true
      }
      loOk && hiOk
    case 3 =>
      val loOk = lo.forall {
        case s: String => java.lang.Long.compareUnsigned(maxBits, Utf8Order.prefix8(s)) >= 0
        case _ => true
      }
      val hiOk = hi.forall {
        case s: String => java.lang.Long.compareUnsigned(minBits, Utf8Order.prefix8(s)) <= 0
        case PrefixUpper(p) =>
          java.lang.Long.compareUnsigned(minBits, Utf8Order.prefix8Upper(p)) <= 0
        case _ => true
      }
      loOk && hiOk
    case _ => true
  }

  /** Pre-sorted typed views of an IN list, for exact per-chunk membership
    * pruning (the [min,max] envelope alone is useless for scattered join
    * keys — the common shape of runtime DPP filters). All three views are
    * conservative: `longs` truncates fractional probes (extra candidates
    * only) and is None when a floating probe is past the range where
    * integers convert to it exactly (2^53 for a double, 2^24 for a float:
    * many integers equal it there), NaNs are dropped from `doubles` (a
    * kind-2 chunk holds no NaN), `prefixes` ride the same order-preserving
    * 8-byte truncation as the string zone maps. Stored sign-flipped where
    * unsigned order is needed.
    */
  private[graft] final case class InProbe(longs: Option[Array[Long]],
      doubles: Array[Double], prefixes: Array[Long])

  private[sources] def mkInProbe(vs: Array[Any]): InProbe = {
    val inexact = vs.exists {
      case d: java.lang.Double => math.abs(d) >= 9.007199254740992e15
      case f: java.lang.Float => math.abs(f) >= 1.6777216e7f
      case _ => false
    }
    val longs =
      if (inexact) None else Some(vs.collect { case n: Number => n.longValue }.sorted)
    // normalize -0.0 → 0.0: binarySearch uses Double's TOTAL order
    // (-0.0 < 0.0), but Spark's IN matches them equal — a -0.0 probe left
    // as-is would land before a chunk min of +0.0 and prune rows the
    // filter matches (confirmed: isin(-0.0, …) over a chunk holding 0.0)
    val doubles = vs.collect { case n: Number => n.doubleValue + 0.0 }
      .filterNot(_.isNaN).sorted
    val prefixes = vs.collect { case s: String =>
      Utf8Order.prefix8(s) ^ Long.MinValue
    }.sorted
    InProbe(longs, doubles, prefixes)
  }

  /** first element >= lo exists and is <= hi (sorted array). */
  private def existsIn(a: Array[Long], lo: Long, hi: Long): Boolean = {
    val bs = java.util.Arrays.binarySearch(a, lo)
    val i = if (bs >= 0) bs else -bs - 1
    i < a.length && a(i) <= hi
  }
  private def existsInD(a: Array[Double], lo: Double, hi: Double): Boolean = {
    val bs = java.util.Arrays.binarySearch(a, lo)
    val i = if (bs >= 0) bs else -bs - 1
    i < a.length && a(i) <= hi
  }

  /** May a chunk with these stats contain ANY value of the IN list? */
  private[sources] def inMayMatch(kind: Int, minBits: Long, maxBits: Long,
      p: InProbe): Boolean = kind match {
    case 1 => p.longs.forall(existsIn(_, minBits, maxBits))
    case 2 => existsInD(p.doubles,
      java.lang.Double.longBitsToDouble(minBits),
      java.lang.Double.longBitsToDouble(maxBits))
    case 3 => existsIn(p.prefixes,
      minBits ^ Long.MinValue, maxBits ^ Long.MinValue)
    case _ => true
  }

  /** Does a backfill fill value satisfy [lo, hi]? Conservative `true` when
    * the comparison is not decidable.
    */
  private def fillMayMatch(fill: Any, lo: Option[Any], hi: Option[Any]): Boolean = {
    def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
      case (x: Number, y: Number) =>
        val d = java.lang.Double.compare(x.doubleValue, y.doubleValue)
        Some(d)
      case (x: Boolean, y: Number) =>
        Some(java.lang.Double.compare(if (x) 1.0 else 0.0, y.doubleValue))
      case (x: String, y: String) => Some(Utf8Order.compareStrings(x, y))
      case _ => None
    }
    lo.forall(l => cmp(fill, l).forall(_ >= 0)) &&
      hi.forall(h => cmp(fill, h).forall(_ <= 0))
  }

  /** The zone-map test one column's filters imply: the tightest [lo, hi]
    * envelope plus exact IN membership probes. Shared by the chunk planner
    * (planSelectionCounted) and the index-run pruner (`Index.lookup`).
    */
  private[graft] final case class ColBounds(lo: Option[Any], hi: Option[Any],
      probes: Seq[InProbe]) {
    /** May a unit with these stats hold a row satisfying every filter? A
      * chunk survives an IN only if SOME probed value lands inside its
      * [min, max], beyond the envelope.
      */
    def mayMatch(kind: Int, minBits: Long, maxBits: Long): Boolean =
      chunkMayMatch(kind, minBits, maxBits, lo, hi) &&
        probes.forall(inMayMatch(kind, minBits, maxBits, _))
  }

  /** ColBounds of `fs`, the (AND-flattened) filters on ONE column; filters
    * that bound nothing are ignored.
    */
  private[graft] def colBounds(fs: Seq[Filter]): ColBounds = {
    val bs = fs.flatMap(bounds)
    // tightest bounds by a coarse merge key; picking a looser candidate
    // would only prune less (the chunk test itself is kind-exact)
    def u64(l: Long): Double =
      if (l >= 0) l.toDouble else l.toDouble + 1.8446744073709552e19
    def mergeKey(v: Any): Double = v match {
      case n: Number => n.doubleValue
      case s: String => u64(Utf8Order.prefix8(s))
      case PrefixUpper(p) => u64(Utf8Order.prefix8Upper(p))
      case _ => 0.0
    }
    val los = bs.flatMap(_._2)
    val his = bs.flatMap(_._3)
    ColBounds(
      if (los.isEmpty) None else Some(los.maxBy(mergeKey)),
      if (his.isEmpty) None else Some(his.minBy(mergeKey)),
      fs.collect { case sources.In(_, vs) if vs.nonEmpty => mkInProbe(vs) })
  }

  /** Global row ranges whose chunks can satisfy all pushed filters. */
  def planSelection(snap: Snapshot, pushed: Array[Filter]): Selection =
    planSelectionCounted(snap, pushed)._1

  /** planSelection + evidence: (selection, partitions whose chunk lists
    * were walked, partitions skipped wholesale by the per-partition
    * min/max roll-up).
    */
  def planSelectionCounted(snap: Snapshot,
      pushed: Array[Filter]): (Selection, Int, Int) = {
    if (pushed.isEmpty) return (SelAll, 0, 0)
    val spec = snap.spec
    val fs = pushed.flatMap(flatAnd)
    // _row_id bounds
    var partsVisited = 0
    var partsSkipped = 0
    var rowLo = 0L
    var rowHi = Long.MaxValue
    fs.foreach {
      case sources.GreaterThan(c, v: Number) if c == "_row_id" =>
        rowLo = math.max(rowLo, v.longValue + 1)
      case sources.GreaterThanOrEqual(c, v: Number) if c == "_row_id" =>
        rowLo = math.max(rowLo, v.longValue)
      case sources.LessThan(c, v: Number) if c == "_row_id" =>
        rowHi = math.min(rowHi, v.longValue)
      case sources.LessThanOrEqual(c, v: Number) if c == "_row_id" =>
        rowHi = math.min(rowHi, v.longValue + 1)
      case sources.EqualTo(c, v: Number) if c == "_row_id" =>
        rowLo = math.max(rowLo, v.longValue); rowHi = math.min(rowHi, v.longValue + 1)
      case _ =>
    }
    // value predicates -> surviving chunk row-ranges per column, intersected
    val byCol = fs.flatMap(f => bounds(f).map(_._1 -> f))
      .filter { case (c, _) => spec.columns.exists(_.name == c) }
      .groupBy(_._1)
    var ranges: Option[Seq[(Long, Long)]] = None
    byCol.foreach { case (colName, cfs) =>
      val zone = colBounds(cfs.map(_._2).toSeq)
      val cs = spec.columns.find(_.name == colName)
      val surviving = mutable.ArrayBuffer.empty[(Long, Long)]
      var curSeg = -1L
      var segStats: Map[Int, Map[String, (Int, Long, Long)]] = null
      for ((seg, part, off, rows) <- snap.partOffsets) {
        if (seg != curSeg) { curSeg = seg; segStats = snap.partColStats(seg) }
        segStats.getOrElse(part, Map.empty).get(colName) match {
          case None =>
            // column backfilled after this segment: every row carries the
            // fill value. Include the partition when the fill satisfies
            // the interval (conservatively when not decidable).
            if (cs.forall(c => fillMayMatch(Decode.fillValue(c), zone.lo, zone.hi)))
              surviving += ((off, off + rows))
          case Some((k, mn, mx)) if !zone.mayMatch(k, mn, mx) =>
            // partition-level roll-up excludes the predicate: skip the
            // whole partition without touching its chunk list
            partsSkipped += 1
          case _ =>
            partsVisited += 1
            val m = snap.partManifest(seg, part)
            m.chunks.foreach { cm =>
              if (cm.column == colName &&
                zone.mayMatch(cm.statsKind, cm.minBits, cm.maxBits))
                surviving += ((off + cm.rowStartLocal, off + cm.rowStartLocal + cm.nrows))
            }
        }
      }
      val merged = Ranges.merge(surviving.toSeq)
      ranges = Some(ranges.fold(merged)(prev => Ranges.intersect(prev, merged)))
    }
    val base: Seq[(Long, Long)] = ranges.getOrElse(Seq((0L, Long.MaxValue)))
    val clipped = base.map { case (a, b) => (math.max(a, rowLo), math.min(b, rowHi)) }
      .filter { case (a, b) => a < b }
    (fromRanges(clipped), partsVisited, partsSkipped)
  }

  /** Is `f` a `_row_id` comparison the selection planner understands? */
  private[sources] def rowIdFilter(f: Filter): Boolean = f match {
    case sources.GreaterThan("_row_id", _: Number) => true
    case sources.GreaterThanOrEqual("_row_id", _: Number) => true
    case sources.LessThan("_row_id", _: Number) => true
    case sources.LessThanOrEqual("_row_id", _: Number) => true
    case sources.EqualTo("_row_id", _: Number) => true
    case sources.And(l, r) => rowIdFilter(l) && rowIdFilter(r)
    case _ => false
  }

  private[sources] def toRanges(sel: Selection): Seq[(Long, Long)] = sel match {
    case SelAll => Seq((0L, Long.MaxValue))
    case SelRange(a, b, _) => Seq((a, b))
    case SelRanges(as, bs) => as.indices.map(i => (as(i), bs(i)))
    case _ => Seq((0L, Long.MaxValue))
  }

  private[sources] def fromRanges(rs: Seq[(Long, Long)]): Selection =
    if (rs.isEmpty) SelRanges(Array.empty, Array.empty)
    else if (rs == Seq((0L, Long.MaxValue))) SelAll
    else if (rs.size == 1) SelRange(rs.head._1, rs.head._2, 1L)
    else SelRanges(rs.map(_._1).toArray, rs.map(_._2).toArray)

  /** Running MIN or MAX over exact stats bits — kind 1 integers, kind 2
    * float IEEE bits — typed to the column at the end. Double.compare
    * matches Spark's Min/Max ordering on signed zeros (-0.0 < 0.0);
    * primitive '<' would tie them and keep whichever bits arrived first.
    */
  private final class MinMaxAcc(val kind: Int, isMin: Boolean) {
    private var acc = 0L
    private var seen = false
    def add(minBits: Long, maxBits: Long): Unit = {
      val v = if (isMin) minBits else maxBits
      val better = !seen || (kind match {
        case 2 =>
          val d = java.lang.Double.compare(
            java.lang.Double.longBitsToDouble(v), java.lang.Double.longBitsToDouble(acc))
          if (isMin) d < 0 else d > 0
        case _ => if (isMin) v < acc else v > acc
      })
      if (better) { acc = v; seen = true }
    }
    def result(pt: PType.PType): Option[Any] = if (!seen) None else pt match {
      case PType.I64 => Some(acc)
      case PType.I32 => Some(acc.toInt)
      case PType.I16 => Some(acc.toShort)
      case PType.BOOL => Some(acc != 0L)
      case PType.F64 => Some(java.lang.Double.longBitsToDouble(acc))
      case PType.F32 => Some(java.lang.Double.longBitsToDouble(acc).toFloat)
      case _ => None
    }
  }

  /** None for columns without exact stats: string prefixes are lossy,
    * bin/list columns have none.
    */
  private def minMaxAcc(cs: ColumnSpec, isMin: Boolean): Option[MinMaxAcc] = cs.ptype match {
    case PType.I64 | PType.I32 | PType.I16 | PType.BOOL => Some(new MinMaxAcc(1, isMin))
    case PType.F64 | PType.F32 => Some(new MinMaxAcc(2, isMin))
    case _ => None
  }

  /** Exact table-wide min/max of a column from the per-partition stat
    * roll-ups, typed to the column — None when not provable (kind-0 or
    * mixed stats, string/binary prefix stats, or a backfilled partition
    * without materialized chunks).
    */
  private[sources] def statMinMax(snap: Snapshot, colName: String,
      isMin: Boolean): Option[Any] = {
    val cs = snap.spec.col(colName)
    minMaxAcc(cs, isMin).flatMap { m =>
      var curSeg = -1L
      var segStats: Map[Int, Map[String, (Int, Long, Long)]] = null
      val ok = snap.partOffsets.forall { case (seg, part, _, rows) =>
        rows == 0 || {
          if (seg != curSeg) { curSeg = seg; segStats = snap.partColStats(seg) }
          segStats.getOrElse(part, Map.empty).get(colName) match {
            case Some((k, mn, mx)) if k == m.kind => m.add(mn, mx); true
            case _ => false // kind mismatch / no stats / backfilled part
          }
        }
      }
      if (ok) m.result(cs.ptype) else None
    }
  }

  /** Walk a column's chunks, classifying each against exact global row
    * `ranges`: fully inside → `in(chunk)`, disjoint → skipped, PARTIAL →
    * the whole computation aborts (None) — chunk stats cannot split a
    * chunk, so a metadata-only filtered aggregate is provable only when
    * the row ranges land on chunk boundaries. Backfilled partitions (no
    * chunks) abort unless fully outside the ranges.
    */
  private def walkChunksRanged(snap: Snapshot, colName: String,
      ranges: Seq[(Long, Long)])(in: ChunkMeta => Boolean): Boolean = {
    val sorted = ranges.sortBy(_._1)
    def overlap(lo: Long, hi: Long): Int = { // 0 none, 1 full, 2 partial
      var covered = 0L
      sorted.foreach { case (a, b) =>
        val l = math.max(lo, a)
        val h = math.min(hi, b)
        if (l < h) covered += h - l
      }
      if (covered == 0) 0 else if (covered == hi - lo) 1 else 2
    }
    for ((seg, part, off, rows) <- snap.partOffsets; if rows > 0) {
      val m = snap.partManifest(seg, part)
      val cs = m.chunks.filter(_.column == colName)
      if (cs.isEmpty) {
        // backfilled: fill values, no stats — only a fully-disjoint
        // partition is provable
        if (overlap(off, off + rows) != 0) return false
      } else cs.foreach { cm =>
        val lo = off + cm.rowStartLocal
        overlap(lo, lo + cm.nrows) match {
          case 0 => ()
          case 1 => if (!in(cm)) return false
          case _ => return false // partial chunk: not provable from stats
        }
      }
    }
    true
  }

  /** MIN/MAX of a column over exact row ranges, provable only when every
    * overlapping chunk is FULLY inside (see walkChunksRanged). None
    * otherwise, or when no chunk overlaps (empty min/max = NULL — the
    * caller falls back to a real scan).
    */
  private[sources] def statMinMaxRanged(snap: Snapshot, colName: String,
      isMin: Boolean, ranges: Seq[(Long, Long)]): Option[Any] = {
    val cs = snap.spec.col(colName)
    minMaxAcc(cs, isMin).flatMap { m =>
      val ok = walkChunksRanged(snap, colName, ranges) { cm =>
        cm.statsKind == m.kind && { m.add(cm.minBits, cm.maxBits); true }
      }
      if (ok) m.result(cs.ptype) else None
    }
  }

  /** SUM of an integer column over exact row ranges (the whole table is
    * `Seq((0, nrows))`) from the per-chunk sums the manifests carry —
    * provable only when every overlapping chunk is fully inside and carries
    * a sum: None for a backfilled partition without chunks, a sum-less
    * chunk, or accumulator overflow. No chunk file is opened.
    */
  private[sources] def statSumRanged(snap: Snapshot, colName: String,
      ranges: Seq[(Long, Long)]): Option[Long] = {
    import graft.codec.PType
    snap.spec.col(colName).ptype match {
      case PType.I64 | PType.I32 | PType.I16 => ()
      case _ => return None
    }
    var acc = 0L
    var overflow = false
    val ok = walkChunksRanged(snap, colName, ranges) { cm =>
      if (cm.sumKind != 1) false
      else {
        try acc = Math.addExact(acc, cm.sumBits)
        catch { case _: ArithmeticException => overflow = true }
        !overflow
      }
    }
    if (ok && !overflow) Some(acc) else None
  }

  /** Skip the first `n` rows of a selection (exact offset pushdown). */
  private[sources] def skipSelection(sel: Selection, n: Long,
      nrows: Long): Selection = sel match {
    case SelAll => SelRange(math.min(n, nrows), nrows, 1L)
    case SelRange(a, b, step) => SelRange(math.min(b, a + n * step), b, step)
    case SelRanges(as, bs) =>
      val ks = mutable.ArrayBuilder.make[Long]
      val ke = mutable.ArrayBuilder.make[Long]
      var left = n
      var i = 0
      while (i < as.length) {
        val len = bs(i) - as(i)
        val drop = math.min(left, len)
        left -= drop
        if (drop < len) { ks += as(i) + drop; ke += bs(i) }
        i += 1
      }
      SelRanges(ks.result(), ke.result())
    case other => other
  }

  /** Clip a selection to its first `n` rows (exact limit pushdown). */
  private[sources] def clipSelection(sel: Selection, n: Long,
      nrows: Long): Selection = sel match {
    case SelAll => SelRange(0L, math.min(n, nrows), 1L)
    case SelRange(a, b, step) => SelRange(a, math.min(b, a + n * step), step)
    case SelRanges(as, bs) =>
      val ks = mutable.ArrayBuilder.make[Long]
      val ke = mutable.ArrayBuilder.make[Long]
      var left = n
      var i = 0
      while (i < as.length && left > 0) {
        val take = math.min(left, bs(i) - as(i))
        ks += as(i); ke += as(i) + take
        left -= take
        i += 1
      }
      SelRanges(ks.result(), ke.result())
    case other => other
  }

  /** Rows covered by a selection (for scan statistics). */
  private[sources] def selRows(sel: Selection, nrows: Long): Long = sel match {
    case SelAll => nrows
    case SelRange(a, b, step) =>
      if (b <= a) 0L else (math.min(b, nrows) - a + step - 1) / step
    case SelRanges(as, bs) =>
      var s = 0L
      var i = 0
      while (i < as.length) { s += math.max(0L, bs(i) - as(i)); i += 1 }
      s
    case SelIds(ids, _) => ids.length.toLong
  }

  /** Canonical 64-bit probe hashes per column for equality/IN filters —
    * the membership-filter test (Decode.refineUnit, at planning) checks
    * them against each chunk's split-block bloom. One entry per CONJUNCT
    * (a chunk must pass every entry). Hash domains match MemberFilter's
    * encode-side hashing exactly; a probe value that cannot canonicalize
    * for the column's kind (e.g. a fractional double against an integer
    * column) is dropped — no stored value can equal it, so the remaining
    * probe set still over-approximates the matchable values. An entry with
    * NO canonicalizable values is skipped entirely (no pruning from it).
    */
  private[sources] def filterProbes(spec: TableSpec,
      filters: Array[Filter]): Seq[(String, Array[Long])] = {
    import graft.codec.MemberFilter
    def canon(c: String, v: Any): Option[Long] =
      spec.columns.find(_.name == c).map(_.ptype).flatMap {
        case PType.I64 | PType.I32 | PType.I16 => v match {
          case n @ (_: java.lang.Long | _: java.lang.Integer |
                    _: java.lang.Short | _: java.lang.Byte) =>
            Some(MemberFilter.hashLong(n.asInstanceOf[Number].longValue))
          case _ => None
        }
        case PType.F64 | PType.F32 => v match {
          // NaN hashes CANONICALLY (doubleToLongBits collapses every NaN
          // payload), matching MemberFilter.fromVec's encode side — Spark
          // SQL treats NaN = NaN as TRUE, so dropping NaN from an IN probe
          // set while keeping the rest would prune chunks whose only
          // matches are NaN rows (ADVICE r05, medium)
          case n: Number => Some(MemberFilter.hashDouble(n.doubleValue))
          case _ => None
        }
        case PType.STR => v match {
          case s: String => Some(MemberFilter.hashString(s))
          case _ => None
        }
        case _ => None
      }
    filters.flatMap(flatAnd).toSeq.flatMap {
      case sources.EqualTo(c, v) =>
        canon(c, v).map(h => (c, Array(h)))
      case sources.In(c, vs) if vs.nonEmpty =>
        val hs = vs.flatMap(canon(c, _))
        if (hs.isEmpty) None else Some((c, hs))
      case _ => None
    }
  }

  /** Filter blobs by content identity: store id, the last reshape (which
    * may reuse file names), the last update of the chunk's column (an
    * overwrite rewrites the same names), file, offset, length and chunk CRC.
    * Bounded by bytes.
    */
  private val filterCache = new PlanCache(8L << 20)

  /** `units` refined against `probes` on the driver (see
    * Decode.refineUnit), each filter blob read through [[filterCache]];
    * units with no surviving row drop.
    */
  private[sources] def refine(snap: Snapshot, units: Seq[DecodeUnit],
      probes: Seq[(String, Array[Long])]): Seq[DecodeUnit] =
    if (probes.isEmpty) units
    else units.flatMap(u => Decode.refineUnit(u, probes, cm => cachedPlan[Array[Byte]](
      s"mf|${u.root}|${snap.id}|${snap.entry.reshapedAt}|${snap.updatedAt(cm.column)}|" +
        s"${u.segment}|${cm.file}|${cm.filterOffset}|${cm.filterBytes}|${cm.crc}",
      _.length.toLong, filterCache)(Decode.readFilter(u)(cm))))

  /** Bounded LRU cache of index-consult results (row-range sets / top-k id
    * selections). One logical query triggers SEVERAL plan materializations
    * (explain, AQE initial + final, a derived Dataset re-running pushdown),
    * and each used to re-run the index lookup job. Entries are keyed by the
    * FULL freshness tuple (store id + store version + the canonicalized
    * predicate set), so a cached entry is used only when the compute would
    * provably return the same ranges: every published mutation moves the
    * version and misses the cache.
    * Planning metadata only — never query results.
    *
    * Bounded by WEIGHT, not entry count: an entry weighs the ranges plus
    * ids it holds (at least 1), and the total stays under
    * `PlanCacheWeight`, so driver heap is bounded whatever the predicates.
    */
  private[sources] final class PlanCache(capacity: Long) {
    private val entries =
      new java.util.LinkedHashMap[String, (AnyRef, Long)](64, 0.75f, true)
    private var total = 0L

    def get(key: String): Option[AnyRef] = synchronized(Option(entries.get(key)).map(_._1))

    /** Insert, then evict least-recently-used entries until the total
      * weight fits; an entry heavier than the capacity is not kept.
      */
    def put(key: String, v: AnyRef, weight: Long): Unit = synchronized {
      val w = math.max(1L, weight)
      if (w <= capacity) {
        Option(entries.put(key, (v, w))).foreach(old => total -= old._2)
        total += w
        val it = entries.values.iterator
        while (total > capacity) { total -= it.next()._2; it.remove() }
      }
    }
  }

  /** Most ranges plus ids the plan cache holds (~16 bytes each, boxed). */
  private[sources] final val PlanCacheWeight = 1L << 20

  private val planCache = new PlanCache(PlanCacheWeight)

  private[sources] def cachedPlan[T <: AnyRef](key: String, weight: T => Long,
      cache: PlanCache = planCache)(compute: => T): T =
    cache.get(key) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val v = compute
        cache.put(key, v, weight(v))
        v
    }

}

class GraftScan(root: String, required: StructType, pushed: Array[Filter],
    useIndex: Boolean = true, limit: Int = -1, maxRowsPerTrigger: Long = -1L,
    topN: Option[(String, Boolean, Int)] = None, offset: Int = 0,
    orderedCol: Option[String] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  @transient private lazy val store = ColumnStore.open(root)
  // the one store version this scan plans over
  @transient private lazy val snap = store.snapshot

  // ------------------------------------------------------ runtime filters
  // The DSv2 analogue of dynamic partition pruning: when this scan feeds a
  // join whose other side is small, Spark derives an IN filter over the
  // join key from the build side at EXECUTION time and hands it here —
  // chunks whose zone maps (or index route) exclude every build-side key
  // are never decoded. At 100 TB this is the difference between scanning
  // the fact table and reading only the keyed slices a dimension selects.

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only columns of THIS scan's output — Spark resolves these against the
    // scan relation, so an absent (pruned) column would fail analysis
    required.fieldNames
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  @transient private var runtimeFilters: Array[Filter] = Array.empty

  override def filter(filters: Array[Filter]): Unit = {
    // keep only what the planner can actually use; everything is re-applied
    // by the join itself, so dropping a filter is always safe
    runtimeFilters = filters.filter(f =>
      GraftScan.prunable(snap.spec, f) || GraftScan.rowIdFilter(f))
  }

  /** Streaming READ: `spark.readStream.format("graft").load(root)` tails
    * the store's appends (see [[GraftMicroBatchStream]]).
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    // consumed `_row_id` filters must be applied by EVERY execution path;
    // the stream clips each batch's row range with them (value filters
    // stay residual and are re-applied by Spark, so they need nothing here)
    new GraftMicroBatchStream(root, required, maxRowsPerTrigger,
      pushed.filter(GraftScan.rowIdFilter))

  /** Indexed-and-FRESH columns with routable predicates: the index shapes
    * that can narrow a scan (not `!=`, not an empty IN).
    */
  private def routedMap(filters: Array[Filter]): Map[String, Seq[Filter]] =
    if (!useIndex) Map.empty
    else filters.flatMap(GraftScan.flatAnd).filter {
      case _: sources.Not => false
      case sources.In(_, xs) => xs.nonEmpty
      case f => Index.indexCond(f).isDefined
    }
      .groupBy(_.references.head)
      .filter { case (c, _) => Index.routableFor(snap, c) }
      .map { case (c, fs) => c -> fs.toSeq }

  /** Static (plan-time) route — decided without a job so the plan string
    * advertises it; runtime filters extend it at execution time.
    */
  @transient private lazy val routed: Map[String, Seq[Filter]] =
    routedMap(pushed)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftScan root=$root, IndexRouted: [${routed.keys.toSeq.sorted.mkString(", ")}], " +
      orderedPlan.fold("")(p =>
        s"OrderedScan: ${p.col} ${if (p.desc) "DESC" else "ASC"}, ") +
      s"PushedFilters: [${pushed.mkString(", ")}]" +
      (if (limit >= 0) s", PushedLimit: $limit" else "") +
      (if (offset > 0) s", PushedOffset: $offset" else "") +
      topN.fold("") { case (c, desc, k) =>
        s", TopNPushed: $c ${if (desc) "DESC" else "ASC"} LIMIT $k" }

  /** Manifest-derived statistics so Catalyst plans joins over graft tables
    * correctly (broadcast the small side): row count from the zone-map
    * selection (clipped by a pushed limit), bytes from the decoded sizes of
    * the REQUIRED columns only.
    */
  /** Zone-map selection computed once per scan (estimateStatistics may be
    * called several times during join planning, and planInputPartitions
    * needs it again — at 10^5 partitions each walk is real driver work).
    */
  @transient private lazy val zoneSel: Selection =
    GraftScan.planSelection(snap, pushed)

  override def estimateStatistics(): Statistics = {
    val nrows = snap.nrows
    val zone = zoneSel
    val rows0 = GraftScan.selRows(zone, nrows)
    val rows1 = if (limit >= 0) math.min(rows0, limit.toLong) else rows0
    val rows2 = math.max(0L, rows1 - offset)
    val rows = topN.fold(rows2) { case (_, _, k) => math.min(rows2, k.toLong) }
    val raw = snap.colRawBytes
    val wanted = required.fieldNames.filterNot(_ == "_row_id")
    val perRow =
      if (nrows == 0) 8.0
      else 8.0 + wanted.map(c => raw.getOrElse(c, 0L)).sum.toDouble / nrows
    new Statistics {
      override def sizeInBytes: java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, (rows * perRow).toLong))
      override def numRows: java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  /** SQL users get the secondary index WITHOUT the API facade: the scan
    * consults the index for the pushed predicates (`Index.lookup` — on the
    * driver when the footer-kept row groups are small, else a distributed
    * job that compacts the hits to bucket ids, capped), compacts the
    * matching row ids to granule-aligned ranges, and intersects them with
    * the zone-map selection. Residual filters keep the result exact;
    * `routableFor` guarantees the index saw every append/update, so the
    * pruning is complete. Falls back to pure zone maps when the hit set is
    * too broad to bound (index gives no benefit there anyway).
    */
  private def indexRanges(spark: org.apache.spark.sql.SparkSession,
      routed: Map[String, Seq[Filter]]): Option[Seq[(Long, Long)]] = {
    import org.apache.spark.sql.functions.{col => fcol}
    if (routed.isEmpty) return None
    // adaptive granule: fine enough to prune small tables, coarse enough
    // that the driver-collected bucket set stays bounded at 10^12 rows
    val g = math.max(64L, math.min(8192L, snap.nrows / 1024L))
    val maxRanges = 1 << 16
    // the fallback sits OUTSIDE cachedPlan: only a consult that succeeded
    // is cached, so a transient failure does not pin the zone-map fallback
    try {
      // every index routable for one store version holds the same (value,
      // row_id) pairs, so (store id, version) identifies the index content
      val key = s"ir|$root|${snap.id}|${snap.version}|$g|" + routed.toSeq.sortBy(_._1)
        .map { case (c, fs) => c + ":" + fs.mkString("&&") }.mkString("|")
      GraftScan.cachedPlan[Option[Seq[(Long, Long)]]](key, _.fold(0L)(_.size.toLong)) {
        var acc: Option[Seq[(Long, Long)]] = None
        routed.foreach { case (c, fs) =>
          val buckets = Index.lookup(spark, store, c, fs, valueOrder = false) match {
            case Left(ids) => ids.map(_ / g).distinct
            case Right(df) => Jobs.described(spark, s"index consult $c")(
              df.select((fcol(Index.RowIdCol) / g).cast("long").as("b"))
                .distinct().limit(maxRanges + 1).collect().map(_.getLong(0)))
          }
          if (buckets.length <= maxRanges) {
            val ranges = Ranges.fromBuckets(buckets.sorted, g)
            acc = Some(acc.fold(ranges)(prev => Ranges.intersect(prev, ranges)))
          }
        }
        acc
      }
    } catch {
      case e: Exception =>
        GraftScan.log.warn(s"index routing failed, falling back to zone maps: ${e.getMessage}")
        None
    }
  }

  /** Top-k row ids from the value-sorted index (pushTopN guaranteed it is
    * fresh at build time). None on any failure — the scan then falls back
    * to the normal selection, which is a superset, and Spark's retained
    * sort+limit keeps the result exact (partial-pushdown contract).
    */
  private def topNSelection(spark: org.apache.spark.sql.SparkSession): Option[Selection] =
    topN.flatMap { case (c, desc, k) =>
      try {
        // Re-verify freshness against the snapshot the rows are read from:
        // pushTopN checked it at plan-build, but unlike the normal
        // selection, top-k-from-a-stale-index is NOT a superset of the true
        // answer, so the retained sort could not repair it.
        if (!Index.routableFor(snap, c)) None
        else GraftScan.cachedPlan[Option[SelIds]](
          s"tn|$root|${snap.id}|${snap.version}|$c|$desc|$k",
          _.fold(0L)(_.ids.length.toLong)) {
          val ids = Index.topN(spark, store, c, desc, k)
          Some(SelIds(ids, Array.tabulate(ids.length)(_.toLong)))
        }
      } catch {
        case e: Exception =>
          GraftScan.log.warn(s"topN routing failed, falling back: ${e.getMessage}")
          None
      }
    }

  /** Ordered-export mode (`option("ordered", col)`) — decided ONCE per
    * scan; the [[OrderedReads]] strategy plans it as one ordered node.
    * Engages only for a plain scan (no filters/limit/offset/topN, which
    * have their own pushdowns) over a FRESH, delta-generation-free index;
    * otherwise the scan stays parallel and any downstream Sort survives —
    * the exact fallback.
    */
  @transient private[sources] lazy val orderedPlan: Option[GraftOrderedPartition] =
    orderedCol.flatMap { spec0 =>
      // option value: "col", "col asc", or "col desc" (case-insensitive)
      val parts = spec0.trim.split("\\s+")
      val c = parts(0)
      val descending = parts.length > 1 && parts(1).equalsIgnoreCase("desc")
      if (pushed.nonEmpty || limit >= 0 || offset > 0 || topN.isDefined ||
        parts.length > 2 ||
        (parts.length == 2 && !parts(1).equalsIgnoreCase("asc") && !descending) ||
        !snap.spec.columns.exists(_.name == c)) None
      else if (!graft.index.Index.routableFor(snap, c)) None
      else {
        val m = graft.index.Index.readMeta(store, c)
        if (m.gens.nonEmpty) None // per-gen order only; fallback sorts
        else {
          val baseDir = s"${graft.index.Index.dir(store, c)}/${m.base}"
          val files = graft.index.RunFile.files(baseDir)
          if (files.isEmpty) None
          else Some(GraftOrderedPartition(root, c,
            required.fieldNames.filterNot(_ == "_row_id").toSeq,
            required.fieldNames.toSeq, snap.spec, baseDir, files,
            m.rows, m.version, 1 << 16, descending))
        }
      }
    }

  /** The units this scan reads. Planned once unless runtime filters
    * arrive: a driver answer that falls back leaves the same plan to the
    * distributed scan.
    */
  private def plannedUnits(): Seq[DecodeUnit] =
    if (runtimeFilters.isEmpty) staticUnits else planUnitsNow()

  @transient private lazy val staticUnits = planUnitsNow()

  private def planUnitsNow(): Seq[DecodeUnit] = {
    val session = org.apache.spark.sql.SparkSession.active
    val wanted = required.fieldNames.filterNot(_ == "_row_id").toSeq
    topNSelection(session).foreach { sel =>
      return snap.planUnits(wanted, sel, emptyMeansAll = false)._1
    }
    // runtime (join-derived) filters extend both the zone-map selection and
    // the index route; a dropped/unusable runtime filter only loses pruning
    val zone =
      if (runtimeFilters.isEmpty) zoneSel
      else GraftScan.planSelection(snap, pushed ++ runtimeFilters)
    val rmap =
      if (runtimeFilters.isEmpty) routed
      else routedMap(pushed ++ runtimeFilters)
    val sel0 = indexRanges(session, rmap) match {
      case Some(ir) =>
        GraftScan.fromRanges(Ranges.intersect(GraftScan.toRanges(zone), ir))
      case None => zone
    }
    // composition per Spark's pushDownLimitAndOffset: a pushed limit is the
    // prefix length INCLUDING the skipped rows when both arrive (Spark
    // pushes Limit(k, Offset(n)) as limit n+k with offset n), so clip to
    // the limit first, then skip the offset
    val sel1 = if (limit >= 0) GraftScan.clipSelection(sel0, limit, snap.nrows) else sel0
    val sel = if (offset > 0) GraftScan.skipSelection(sel1, offset, snap.nrows) else sel1
    // emptyMeansAll=false: a fully-pruned projection (count(*), or bare
    // _row_id) decodes NO column chunks — units carry row counts only
    val (units, _) = snap.planUnits(wanted, sel, emptyMeansAll = false)
    // equality/IN probes against the chunks' membership filters: an
    // unindexed point lookup plans only the chunks that can hold its key,
    // and a MISS plans none
    GraftScan.refine(snap, units, GraftScan.filterProbes(snap.spec, pushed ++ runtimeFilters))
  }

  override def planInputPartitions(): Array[InputPartition] =
    plannedUnits().map(u =>
      GraftInputPartition(u, snap.spec, required.fieldNames.toSeq): InputPartition).toArray

  /** What a read answered on the driver decodes: this scan's snapshot and
    * planned units. None for an ordered scan, whose rows come in value
    * order.
    */
  private[sources] def unitsForDriver: Option[(Snapshot, Seq[DecodeUnit])] =
    if (orderedPlan.isDefined) None else Some((snap, plannedUnits()))

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required)
}

final case class GraftInputPartition(unit: DecodeUnit, spec: TableSpec,
    outFields: Seq[String]) extends InputPartition

class GraftReaderFactory(required: StructType) extends PartitionReaderFactory {
  // every graft partition reads columnar: decoded chunk arrays bulk-copied
  // into column vectors (no per-row object, no boxing); Spark's
  // ColumnarToRow is codegen'd. An empty projection (count(*)) reads as
  // zero-column batches.
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("graft partitions read columnar only")

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private val it = new Decode.ColumnarUnitReader(p.unit, p.spec, p.outFields)
      private var current: org.apache.spark.sql.vectorized.ColumnarBatch = _
      override def next(): Boolean = {
        if (!it.hasNext) return false
        current = it.next()
        true
      }
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = current
      override def close(): Unit = it.close()
    }
  }
}

// ---------------------------------------------------------- streaming read

/** Row-count offset: a graft store only ever grows by whole committed
  * segments, and row ids are assigned in commit order, so "rows visible"
  * is a total order over append history — an offset IS a watermark.
  */
final case class GraftStreamOffset(nrows: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"nrows":$nrows}"""
}

/** Micro-batch source tailing a graft store: each batch is the row range
  * [start, end) of newly committed segments, planned with the same
  * chunk-pruned DecodeUnits as a batch scan — a batch decodes only the new
  * segments' chunks, never rescans history. Offsets restart exactly from
  * the checkpoint (segment commits are atomic and immutable), giving
  * end-to-end exactly-once when paired with the native sink's
  * (`writeStream.format("graft")`, [[GraftStreamingWrite]]) lineage dedup. Rate control: `maxRowsPerTrigger` caps a batch; the cut
  * can land mid-segment because DecodeUnits slice row ranges exactly.
  *
  * Contract: the stream observes APPENDS. In-place updates (P5) mutate
  * history and are not re-emitted — the pycolumns model has no update
  * stream; tail-readers wanting updates should re-read batch-side.
  */
class GraftMicroBatchStream(root: String, required: StructType,
    maxRowsPerBatch: Long, rowIdFilters: Array[Filter] = Array.empty)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming._

  private val store = ColumnStore.open(root)

  override def initialOffset(): Offset = GraftStreamOffset(0L)

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset(""""nrows":(\d+)""".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(s"bad graft offset: $json"))
      .group(1).toLong)

  override def latestOffset(): Offset = GraftStreamOffset(store.snapshot.nrows)

  override def getDefaultReadLimit: ReadLimit =
    if (maxRowsPerBatch > 0) ReadLimit.maxRows(maxRowsPerBatch)
    else ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftStreamOffset].nrows
    val end = store.snapshot.nrows
    limit match {
      case r: ReadMaxRows => GraftStreamOffset(math.min(end, s + r.maxRows()))
      case _ => GraftStreamOffset(end)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset].nrows
    val e = end.asInstanceOf[GraftStreamOffset].nrows
    if (e <= s) return Array.empty
    val snap = store.snapshot
    val wanted = required.fieldNames.filterNot(_ == "_row_id").toSeq
    // consumed _row_id filters: the batch's [start, end) intersects with
    // their exact row ranges (offsets still advance over skipped rows)
    val sel: Selection =
      if (rowIdFilters.isEmpty) SelRange(s, e, 1L)
      else GraftScan.fromRanges(Ranges.intersect(Seq((s, e)),
        GraftScan.toRanges(GraftScan.planSelection(snap, rowIdFilters))))
    val (units, _) = snap.planUnits(wanted, sel, emptyMeansAll = false)
    units.map(u => GraftInputPartition(u, snap.spec,
      required.fieldNames.toSeq): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

// -------------------------------------------------------------------- write

class GraftWriteBuilder(root: String, writeSchema: StructType,
    queryId: String = "")
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new GraftWrite(root, writeSchema, doTruncate, queryId)
}

class GraftWrite(root: String, writeSchema: StructType, truncate: Boolean,
    queryId: String = "")
    extends Write {
  override def toBatch: BatchWrite = new GraftBatchWrite(root, writeSchema, truncate)
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(!truncate,
      "graft streaming sink is append-only: Complete/Update output modes " +
        "(truncate) are not supported — the store models an append history")
    new GraftStreamingWrite(root, writeSchema, queryId)
  }
  override def description(): String = s"GraftWrite root=$root truncate=$truncate"
}

final case class GraftCommitMessage(part: Int, manifest: Array[Byte])
  extends WriterCommitMessage

/** Distributed segment write: every task runs the same PartitionEncoder as
  * the API append path; the driver commit publishes the consolidated
  * manifest + commit record (a crash before commit leaves the segment
  * invisible — readers only see committed segments).
  *
  * mode("overwrite") STAGES a complete new store under the old root and
  * swaps it in at commit — the pre-existing data survives a failed or
  * aborted write job (an eager truncate would destroy it before any task
  * ran). The swap also drops indexes/meta/sub-tables of the replaced data.
  */
class GraftBatchWrite(root: String, writeSchema: StructType, truncate: Boolean)
    extends BatchWrite {
  private var seg: Long = -1L
  private var stagingRoot: Option[String] = None
  private var createdRoot = false

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // driver-side store create/segment allocation (resume-aware numbering)
    val store =
      if (truncate && ColumnStore.exists(root)) {
        val staging =
          s"$root/.overwrite-staging-${java.util.UUID.randomUUID().toString.take(8)}"
        stagingRoot = Some(staging)
        ColumnStore.create(staging, ColumnStore.specFromSchema(writeSchema))
      } else if (ColumnStore.exists(root)) ColumnStore.open(root)
      else {
        createdRoot = true
        ColumnStore.create(root, ColumnStore.specFromSchema(writeSchema))
      }
    val spec = store.snapshot.spec
    // by-name resolution already reordered the input to table-schema order
    require(writeSchema.fieldNames.toSeq == spec.colNames,
      s"write schema ${writeSchema.fieldNames.toSeq} != store columns ${spec.colNames}")
    // anonymous claim: concurrent DSv2 writes to one store take distinct
    // segments instead of interleaving (abort() removes the claimed dir)
    seg = store.claimSegment("")
    val segDir = Format.segDir(store.root, seg)
    FsIO.mkdirs(segDir)
    GraftDataWriterFactory(segDir, seg, spec)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val base = stagingRoot.getOrElse(root)
    ColumnStore.commitSegment(base, seg,
      messages.map { case m: GraftCommitMessage => (m.part, m.manifest) }.toSeq,
      lineage = "dsv2:batch-write")
    stagingRoot.foreach { staging =>
      // Rename-aside swap (crash-safe across the COMMIT window, not just
      // task/job failure): old contents move to a trash dir FIRST, then the
      // staged store hoists up, then trash drops. A driver crash in any
      // window leaves a complete store recoverable — before the hoist the
      // old store exists in full (possibly split root/trash: reassemble by
      // moving trash entries back); after it the new store is in place and
      // trash is garbage. The previous delete-then-rename had a window with
      // neither store's _schema.bin at the root. The root keeps its own
      // version dir, and the swap publishes its next version.
      val stagingName = staging.substring(staging.lastIndexOf('/') + 1)
      val trash =
        s"$root/.overwrite-trash-${java.util.UUID.randomUUID().toString.take(8)}"
      val trashName = trash.substring(trash.lastIndexOf('/') + 1)
      val kept = Set(stagingName, trashName, Format.VersionDir)
      FsIO.mkdirs(trash)
      try {
        FsIO.list(root).filterNot(kept).foreach(n => FsIO.rename(s"$root/$n", s"$trash/$n"))
        FsIO.list(staging).filterNot(_ == Format.VersionDir)
          .foreach(n => FsIO.rename(s"$staging/$n", s"$root/$n"))
      } finally Snapshot.publish(root, Change.Update(writeSchema.fieldNames.toSet))
      new ColumnStore(staging).dropStore()
      FsIO.delete(trash, recursive = true)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = stagingRoot match {
    case Some(staging) =>
      FsIO.delete(staging, recursive = true) // old store untouched
    case None =>
      if (createdRoot) FsIO.delete(root, recursive = true) // undo create-on-write
      // no commit record -> the segment was never visible; drop its files
      else FsIO.delete(Format.segDir(root, seg), recursive = true)
  }
}

final case class GraftDataWriterFactory(segDir: String, seg: Long, spec: TableSpec)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val enc = new ColumnStore.PartitionEncoder(spec, segDir, seg, partitionId,
      lineage = "dsv2:batch-write", graft.codec.CodecConfig.default)
    new DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit = enc.add(row)
      override def commit(): WriterCommitMessage =
        GraftCommitMessage(enc.part, enc.finish())
      override def abort(): Unit = enc.abort()
      override def close(): Unit = ()
    }
  }
}

/** Native streaming sink: `df.writeStream.format("graft")` — exactly-once
  * appends on top of Spark's at-least-once epoch replay, without the
  * foreachBatch detour.
  *
  * Per epoch: writers encode partitions into a DETERMINISTIC epoch-keyed
  * staging dir (`.stream-epoch-<queryId>-<epochId>` — no driver
  * coordination needed before tasks run, and a replayed task simply
  * re-renders the same deterministic content); the driver commit then
  * (1) dedups by lineage `stream-write:<queryId>:<epochId>` — a replayed
  * epoch whose segment already committed is dropped whole, (2) claims a
  * segment under that lineage (a crash mid-commit resumes the SAME claim),
  * (3) moves the staged partition files in and publishes via the shared
  * commitSegment (atomic `.commit-<n>-<seg>` marker). The queryId is
  * stable across checkpoint restarts, which is what makes replayed epochs
  * recognizable; distinct queries never dedup against each other.
  *
  * The per-epoch file moves are O(partitions × columns) driver renames —
  * fine for micro-batch partition counts; bulk history loads should use
  * the batch writer, whose tasks write into the claimed segment directly.
  */
class GraftStreamingWrite(root: String, writeSchema: StructType, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  // the per-epoch lineage-dedup check reads the store's snapshot: after the
  // previous epoch's append it reads only that epoch's segment metadata, so
  // the 10^4th commit does not re-read 10^4 _commit.bin files
  @transient private lazy val store: ColumnStore =
    if (ColumnStore.exists(root)) ColumnStore.open(root)
    else ColumnStore.create(root, ColumnStore.specFromSchema(writeSchema))

  private def sanitizedQuery: String = queryId.replaceAll("[^a-zA-Z0-9-]", "_")
  private def stagingDir(epochId: Long): String =
    s"$root/.stream-epoch-$sanitizedQuery-$epochId"
  private[sources] def lineageFor(epochId: Long): String =
    s"stream-write:$queryId:$epochId"

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spec = store.snapshot.spec
    require(writeSchema.fieldNames.toSeq == spec.colNames,
      s"write schema ${writeSchema.fieldNames.toSeq} != store columns ${spec.colNames}")
    GraftStreamingWriterFactory(root, s".stream-epoch-$sanitizedQuery", spec)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val lin = lineageFor(epochId)
    val staging = stagingDir(epochId)
    val snap = store.snapshot
    if (snap.segments.exists(s => snap.commits(s).lineage == lin)) {
      FsIO.delete(staging, recursive = true) // epoch replay: already visible
      return
    }
    val seg = store.claimSegment(lin)
    val segDir = Format.segDir(root, seg)
    FsIO.mkdirs(segDir)
    // move staged partition files in (skip stale .tmp-* of dead attempts);
    // delete-then-rename so a crashed earlier move converges on retry
    FsIO.list(staging).filterNot(_.contains(".tmp-")).foreach { n =>
      FsIO.delete(s"$segDir/$n")
      FsIO.rename(s"$staging/$n", s"$segDir/$n")
    }
    // manifests were encoded before the segment number existed — restamp
    val msgs = messages.map { case m: GraftCommitMessage =>
      (m.part, BinCodec.writePartManifest(
        BinCodec.readPartManifest(m.manifest, s"$segDir/${Format.partManifestFile(m.part, 0)}")
          .copy(segment = seg)))
    }
    ColumnStore.commitSegment(root, seg, msgs.toSeq, lin)
    FsIO.delete(staging, recursive = true)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    FsIO.delete(stagingDir(epochId), recursive = true)
}

final case class GraftStreamingWriterFactory(root: String, stagingPrefix: String,
    spec: TableSpec)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val stagingDir = s"$root/$stagingPrefix-$epochId"
    val enc = new ColumnStore.PartitionEncoder(spec, stagingDir, 0L, partitionId,
      lineage = s"stream-write-epoch:$epochId", graft.codec.CodecConfig.default)
    new DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit = enc.add(row)
      override def commit(): WriterCommitMessage =
        GraftCommitMessage(enc.part, enc.finish())
      override def abort(): Unit = enc.abort()
      override def close(): Unit = ()
    }
  }
}
