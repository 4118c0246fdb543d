package graft.perfbench

import graft.api.{Columns, RowList, Slice}
import graft.codec.{Chunk, CodecId, ColVec, IntVec, StrVec}
import graft.gen.{TokenGen, TokenRow}
import graft.index.Index
import graft.store.{ByKey, FsIO, Mutate, SelIds, SelRange, Selection}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{col, count, hash, lit, size, sum}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import scala.collection.mutable
import scala.util.control.NonFatal

/** Token-table benchmark: one process, `local[4]`, one client thread.
  *
  * Every run builds the same inputs from `--seed` (F1 rows from TokenGen,
  * cached in Spark before any timing) and interleaves three kinds of
  * operation, so every run reports every end-to-end metric:
  *   ingest cycle — build a store from empty: batch appends with an
  *            incrementally refreshed `n_tok` index, then scatter updates,
  *            each followed by a vacuum;
  *   scan pass — full `tokens` decode, a pruned filtered scan, an ordered
  *            scan;
  *   read — index+gather, `doc_id` point, slice or row list, with a small
  *            append every few reads.
  * The other kinds have fixed quotas per run; the workload's own kind gets
  * as many operations as fill `--seconds` on a calm 4-core box.
  *
  * With `--trace 1` every other operation records spans around each call
  * into a layer (roots are the `graft.api` calls); the untraced half gives
  * the tracing overhead. Every result is checked against the generator.
  */
object PerfBench {
  final val Parts = 4
  final val BaseRows = 12000
  final val IngestBatches = 4
  final val Updates = 6
  final val UpdateIds = 8
  final val SmallAppendRows = 8
  final val ReadsPerAppend = 5
  final val MaxSmallAppends = 64
  final val SetupReps = 5
  // every run does every kind of operation, so that it reports every
  // end-to-end metric: the other kinds get the fixed quotas below, enough
  // for steady medians (and 40 reads put 10 samples beyond the p75)
  final val IngestCycles = 2
  final val ScanPasses = 6
  final val LookupReads = 40
  // the workload's own kind gets as many operations as fill `--seconds` on
  // a calm 4-core box, at these measured costs of one operation
  final val IngestCycleS = 3.6
  final val ReadS = 0.17
  // untimed JIT and codegen warm-up
  final val WarmScans = 1
  final val WarmReads = 4
  /** Kinds whose traced path makes the same engine calls as the untraced
    * one (the spans only wrap them), so their difference is tracing cost.
    */
  final val SameCallKinds = Seq("scan_s", "filtered_scan_s", "ordered_scan_s", "point_ms")

  final val MixCodecs = Seq("plain", "rle", "dict", "bitpack", "for", "fsst", "shuffle", "forshuf")
  /** Call-site files whose jobs are counted: the engine's, the client's own
    * actions (`PerfBench.scala`), and the query stages adaptive execution
    * launches from its own threads (`CompletableFuture.java`), which carry
    * no engine frame.
    */
  final val SiteFiles = Seq("Index.scala", "ColumnStore.scala", "GraftDataSource.scala",
    "Mutate.scala", "Columns.scala", "PerfBench.scala", "CompletableFuture.java")
  final val Layers = Seq("api", "index", "store", "sources", "spark")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = m.getOrElse("workload", "")
    require(Set("ingest", "lookup")(w), s"unknown workload '$w'")
    Args(w, m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1", m("work"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    Timeline.mark("jvm")
    HeapWatch.install()
    val spark = SparkSession.builder()
      .master(s"local[$Parts]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Parts.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Timeline.mark("session")
    val ok =
      try new PerfBench(spark, args).run()
      finally spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Spark's `hash(tokens)`: Murmur3 folded over the elements, seed 42. */
  def tokensHash(t: Array[Int]): Int = {
    var h = 42
    var i = 0
    while (i < t.length) { h = Murmur3_x86_32.hashInt(t(i), h); i += 1 }
    h
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** Result line; the wrapper attaches units from BENCHMARK.json. */
  def resultJson(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double)]): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""" +
      metrics.map { case (k, v) => s""""$k":$v""" }
        .mkString(",") + "}}"

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** The most heap in use after any collection: the engine's live data plus
  * what the collector had not yet reclaimed. Unlike the process's RSS, it
  * does not follow the collector's choice of how far to grow the heap.
  */
object HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._
  @volatile var maxAfterGc = 0L
  @volatile var gcs = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
        synchronized { gcs += 1; if (used > maxAfterGc) maxAfterGc = used }
      }, null, null)
    case _ =>
  }
}

/** Wall-clock marks of a run's stages, printed as one info line. */
object Timeline {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val marks = mutable.ArrayBuffer.empty[String]
  def mark(what: String): Unit = marks += f"$what=${(System.currentTimeMillis() - t0) / 1e3}%.1f"
  def line: String = "timeline_s: " + marks.mkString(" ")
}

sealed trait Probe
final case class Eq(v: Int) extends Probe
final case class Between(lo: Int, hi: Int) extends Probe

final class Mismatch(msg: String) extends Exception(msg)

final class PerfBench(spark: SparkSession, args: PerfBench.Args) {
  import PerfBench._
  import spark.implicits._

  private val seed = args.seed
  private val tr = new Tracer(spark.sparkContext)
  private val counts = new SparkCounts
  spark.sparkContext.addSparkListener(counts)

  // ------------------------------------------------------------ inputs
  private val totalRows = BaseRows + MaxSmallAppends * SmallAppendRows
  private val gen: Array[TokenRow] = java.util.stream.IntStream.range(0, totalRows).parallel()
    .mapToObj[TokenRow](i => TokenGen.row(seed, i)).toArray(n => new Array[TokenRow](n))
  Timeline.mark("generated")
  private val genHash: Array[Int] = gen.map(r => tokensHash(r.tokens))
  private val baseTokens: Long = gen.iterator.take(BaseRows).map(_.n_tok.toLong).sum
  private val batchRows = BaseRows / IngestBatches
  private val batchTokens: IndexedSeq[Long] = (0 until IngestBatches).map(b =>
    gen.slice(b * batchRows, (b + 1) * batchRows).map(_.n_tok.toLong).sum)

  private val batchDfs = (0 until IngestBatches).map { b =>
    val s = seed
    spark.range(b * batchRows, (b + 1) * batchRows, 1, Parts)
      .map(i => TokenGen.row(s, i)).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
  }
  // the base rows are the cached batches, not a second generation; one
  // job fills all four caches
  private val baseDf = batchDfs.reduce(_ union _)
  baseDf.count()
  Timeline.mark("cached")
  private val refBytes: Long =
    graft.codec.RefFootprint.int32StreamBytes(gen.iterator.take(BaseRows).flatMap(_.tokens).toArray)

  // ------------------------------------------------------- bookkeeping
  private var attempted = 0L
  private var failed = 0L
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var warming = false
  private def record(kind: String, v: Double): Unit =
    if (!warming) samples.getOrElseUpdate(if (tr.on) s"$kind#traced" else kind, mutable.ArrayBuffer.empty) += v
  private def got(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)

  // per traced root op: FsIO metadata ops, planned chunks, useful values
  private val metaOpsPerOp = mutable.ArrayBuffer.empty[Double]
  private var plannedChunks = 0L
  private var plannedOps = 0L
  private var plannedValues = 0L
  private var returnedValues = 0L
  private val idsPerLookup = mutable.ArrayBuffer.empty[Double]
  private val partitionsPerScan = mutable.ArrayBuffer.empty[Double]
  private val storedPerRaw = mutable.ArrayBuffer.empty[Double]
  private val rewrittenPerUpdate = mutable.ArrayBuffer.empty[Double]
  private val reclaimedPerVacuum = mutable.ArrayBuffer.empty[Double]
  private val codecStats = mutable.LinkedHashMap.empty[String, Double]
  private val seenShapes = mutable.HashSet.empty[String]
  private var reads = 0L
  private var repeatedReads = 0L

  private var opNo = 0L
  /** Traced runs alternate: odd operations traced, even ones not. */
  private def nextOp(): Unit = { opNo += 1; tr.on = args.trace && !warming && opNo % 2 == 1 }

  private def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new Mismatch(what)

  /** One attempted operation: an exception or a failed check counts it failed. */
  private def attempt(what: String)(f: => Unit): Unit = {
    attempted += 1
    val meta0 = FsIO.metaOps.get()
    val traced = tr.on
    try f
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"FAILED $what: $e")
    }
    if (traced) metaOpsPerOp += (FsIO.metaOps.get() - meta0).toDouble
  }

  private def ms[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  private def root(i: String): String = s"${args.work}/$i"

  // ---------------------------------------------------- traced api calls
  // Untraced, each is the one facade call a user makes. Traced, it is the
  // same work split into the layer calls the facade makes, each in a span.

  private def append(c: Columns, df: DataFrame): Unit =
    if (!tr.on) c.append(df)
    else tr.span("api.append") {
      tr.span("store.append")(c.store.append(spark, df))
      tr.span("index.refresh")(Index.refresh(spark, c.store, "n_tok"))
    }

  private def update(c: Columns, ids: Seq[Long], v: Int): Unit =
    if (!tr.on) c("n_tok").update(ids, Seq.fill(ids.size)(v))
    else {
      val before = c.storageBytes
      tr.span("api.update") {
        tr.span("store.update")(Mutate.update(spark, c.store, "n_tok",
          ids.toArray, Array.fill[Any](ids.size)(v)))
        tr.span("index.rebuild")(Index.create(spark, c.store, "n_tok", overwrite = true))
      }
      rewrittenPerUpdate += (c.storageBytes - before).toDouble
    }

  private def vacuum(c: Columns): Unit =
    if (!tr.on) c.vacuum()
    else {
      val before = c.storageBytes
      tr.span("api.vacuum")(tr.span("store.vacuum")(c.vacuum()))
      reclaimedPerVacuum += (before - c.storageBytes).toDouble
    }

  private def planned(c: Columns, columns: Seq[String], sel: Selection): Unit = {
    val (units, _) = tr.span("store.plan")(c.store.planUnits(columns, sel))
    val chunks = units.flatMap(_.colChunks.values.flatten)
    plannedOps += 1
    plannedChunks += chunks.size
    plannedValues += chunks.map(_.nrows.toLong).sum
  }

  private def scansOf(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
    case q: QueryStageExec => scansOf(q.plan)
    case b: BatchScanExec => Seq(b)
    case o => o.children.flatMap(scansOf)
  }

  /** Collect a DataFrame; traced, first plan it (with input partitions). */
  private def collect(df: DataFrame): Array[Row] =
    if (!tr.on) df.collect()
    else {
      tr.span("sources.plan") {
        scansOf(df.queryExecution.executedPlan)
          .foreach(b => partitionsPerScan += b.inputPartitions.size.toDouble)
      }
      tr.span("spark.execute")(df.collect())
    }

  // ------------------------------------------------------------ oracle

  private def docIndex(docId: String): Int = docId.stripPrefix("doc").toInt

  /** Rows of (doc_id, tokens): every one must be the generator's row. */
  private def checkRows(rows: Seq[Row], what: String): Unit = rows.foreach { r =>
    val g = gen(docIndex(r.getAs[String]("doc_id")))
    check(r.getAs[scala.collection.Seq[Int]]("tokens").toArray.sameElements(g.tokens),
      s"$what: tokens of ${g.doc_id} differ from the generator")
  }

  // ------------------------------------------------------------- setup

  // two of the set-up builds are kept: scans read one, lookups read and
  // append to the other, so appends never change what a scan must return
  private var scanned: Columns = _
  private var served: Columns = _
  private var servedNrows = 0L
  // generator row index of every store row, and n_tok counts of live rows
  private val docOfRow = mutable.ArrayBuffer.empty[Int]
  private val nTokCount = new Array[Int](2049)
  private var nextSmall = 0

  private def buildBase(i: Int): Columns = {
    val c = Columns.fromDataFrame(spark, root(s"base-$i"), baseDf, ByKey("source", Parts))
    c("n_tok").createIndex()
    c
  }

  /** Builds the base store `SetupReps` times; returns the median seconds. */
  private def setup(): Double = {
    val secs = (0 until SetupReps).map { i =>
      if (scanned != null) {
        if (i == 2) warmMutations(scanned)
        scanned.dropStore()
      }
      scanned = served
      val t0 = System.nanoTime()
      served = buildBase(i)
      (System.nanoTime() - t0) / 1e9
    }
    servedNrows = served.nrows
    val ids = served.read(Seq("doc_id")).collect().map(r => (r.getLong(0), docIndex(r.getString(1))))
    docOfRow.clear()
    docOfRow ++= Array.fill(ids.length)(-1)
    ids.foreach { case (rid, d) => docOfRow(rid.toInt) = d }
    (0 until BaseRows).foreach(i => nTokCount(gen(i).n_tok) += 1)
    median(secs)
  }

  /** Untimed: the update and vacuum paths on the first store dropped. */
  private def warmMutations(c: Columns): Unit = {
    (0 until 2).foreach(u => update(c, Seq(u * 7L, u * 7L + 3), 4000 + u))
    vacuum(c)
  }

  /** Untimed, but checked: scans and reads on the base store. */
  private def warmUp(): Unit = {
    warming = true
    (0 until WarmScans).foreach(_ => scanPass())
    (0 until WarmReads).foreach { i =>
      i % 4 match {
        case 0 => attempt("index")(indexLookup(coldProbe(eq = true)))
        case 1 => attempt("point")(point())
        case 2 => attempt("slice")(slice())
        case _ => attempt("row list")(rowList())
      }
    }
    warming = false
  }

  // ------------------------------------------------------------ ingest

  private var ingestNo = 0
  private def ingestCycle(): Unit = {
    nextOp()
    ingestNo += 1
    val k = ingestNo
    val r = root(s"ingest-$k")
    attempt("ingest") {
      var c: Columns = null
      // one sample per batch: its tokens over the time to land it, index
      // creation (first batch) or incremental refresh (later ones) included
      def landed(b: Int, t: Double): Unit = record("ingest_tok_per_s", batchTokens(b) / (t / 1e3))
      landed(0, ms {
        if (!tr.on) c = Columns.fromDataFrame(spark, r, batchDfs(0))
        else tr.span("api.append")(tr.span("store.append") {
          c = Columns.fromDataFrame(spark, r, batchDfs(0))
        })
        if (!tr.on) c("n_tok").createIndex()
        else tr.span("api.create_index")(tr.span("index.create")(c("n_tok").createIndex()))
      }._2)
      (1 until IngestBatches).foreach(b => landed(b, ms(append(c, batchDfs(b)))._2))
      check(c.nrows == BaseRows, s"ingest: ${c.nrows} rows, expected $BaseRows")
      if (tr.on)
        storedPerRaw += c.storageBytes.toDouble / c.store.colRawBytes.values.sum
      record("size_vs_reference", c.storageBytes.toDouble / refBytes)

      val pick = new java.util.Random(seed * 31 + k)
      val picked = pick.ints(0, BaseRows).distinct().limit(Updates * UpdateIds.toLong)
        .toArray.map(_.toLong).grouped(UpdateIds).toSeq
      // each update is followed by the vacuum that reclaims its old chunks
      picked.zipWithIndex.foreach { case (ids, u) =>
        record("update_ms", ms(update(c, ids.toSeq, 5000 + u))._2)
        record("vacuum_s", ms(vacuum(c))._2 / 1e3)
      }
      check(c.nrows == BaseRows, s"vacuum changed nrows to ${c.nrows}")
      // the index and the stored rows must both show every update
      val newValue = picked.zipWithIndex.flatMap { case (ids, u) => ids.map(_ -> (5000 + u)) }.toMap
      val hit = c("n_tok").between(5000, 5000 + Updates - 1).collect().map(_.getLong(0)).sorted
      check(hit.sameElements(newValue.keys.toSeq.sorted),
        s"ingest: index finds ${hit.length} updated rows, expected ${newValue.size}")
      val sample = newValue.keys.toSeq ++ Seq.fill(8)(pick.nextInt(BaseRows).toLong)
      val rows = c.read(Seq("doc_id", "n_tok", "tokens"), RowList(sample.distinct)).collect()
      check(rows.length == sample.distinct.size, s"ingest: read ${rows.length} sampled rows")
      rows.foreach { r =>
        val id = r.getLong(0)
        check(docIndex(r.getAs[String]("doc_id")) == id, s"ingest: row $id holds the wrong document")
        check(r.getAs[Int]("n_tok") == newValue.getOrElse(id, gen(id.toInt).n_tok),
          s"ingest: row $id has n_tok ${r.getAs[Int]("n_tok")}")
      }
      checkRows(rows.toSeq, "ingest")
    }
    tr.on = false
    FsIO.delete(r, recursive = true)
  }

  // -------------------------------------------------------------- scan

  private val filtered = gen.iterator.take(BaseRows).zipWithIndex
    .filter { case (g, _) => g.source == "code" && g.n_tok > 1024 }.map(_._2).toSeq

  private def scanPass(): Unit = {
    val g = () => spark.read.format("graft").load(scanned.root)
    nextOp()
    attempt("full scan") {
      val df = g().agg(count(lit(1)), sum(size(col("tokens"))), sum(hash(col("tokens"))))
      val (rows, t) = ms(tr.span("api.scan")(collect(df)))
      record("scan_s", t / 1e3)
      val r = rows.head
      check(r.getLong(0) == BaseRows && r.getLong(1) == baseTokens &&
        r.getLong(2) == genHash.iterator.take(BaseRows).map(_.toLong).sum,
        s"full scan: ${r.getLong(0)} rows / ${r.getLong(1)} tokens / checksum ${r.getLong(2)}")
    }
    nextOp()
    attempt("filtered scan") {
      val df = g().where(col("source") === "code" && col("n_tok") > 1024)
        .agg(count(lit(1)), sum(size(col("tokens"))), sum(hash(col("tokens"))))
      val (rows, t) = ms(tr.span("api.filtered_scan")(collect(df)))
      record("filtered_scan_s", t / 1e3)
      val r = rows.head
      check(r.getLong(0) == filtered.size &&
        r.getLong(1) == filtered.map(gen(_).n_tok.toLong).sum &&
        r.getLong(2) == filtered.map(genHash(_).toLong).sum,
        s"filtered scan: ${r.getLong(0)} rows, expected ${filtered.size}")
    }
    nextOp()
    attempt("ordered scan") {
      val df = scanned.readOrdered("n_tok", Seq("n_tok"))
      val (rows, t) = ms(tr.span("api.ordered_scan")(collect(df)))
      record("ordered_scan_s", t / 1e3)
      val v = rows.map(_.getInt(1))
      check(v.length == BaseRows, s"ordered scan: ${v.length} rows")
      check(v.indices.drop(1).forall(i => v(i - 1) <= v(i)), "ordered scan: out of order")
      check(v.map(_.toLong).sum == gen.iterator.take(BaseRows).map(_.n_tok.toLong).sum,
        "ordered scan: n_tok sum differs from the generator")
    }
    tr.on = false
  }

  // ------------------------------------------------------------ lookup

  private val rng = new java.util.Random(seed ^ 0x5eed)
  // hot shapes repeat; cold ones are drawn fresh. Keys sit in the sparse
  // upper n_tok range so a probe hits a few rows, as a point index lookup.
  private val hot: IndexedSeq[Probe] = IndexedSeq(
    Eq(1100 + rng.nextInt(400)), Eq(1500 + rng.nextInt(400)),
    { val lo = 1200 + rng.nextInt(600); Between(lo, lo + 3) },
    { val lo = 1200 + rng.nextInt(600); Between(lo, lo + 3) })

  private def coldProbe(eq: Boolean): Probe =
    if (eq) Eq(1024 + rng.nextInt(1025))
    else { val lo = 1024 + rng.nextInt(1020); Between(lo, lo + 3) }

  // probes alternate hot and cold, and cold ones `===` and `between`, so
  // every run has the same mix and the median does not hop between modes
  private var probeNo = 0
  private def nextProbe(): Probe = {
    probeNo += 1
    if (probeNo % 2 == 0) hot((probeNo / 2) % hot.size) else coldProbe(probeNo % 4 == 1)
  }

  private def seen(shape: String): Unit = if (!warming) {
    reads += 1
    if (!seenShapes.add(shape)) repeatedReads += 1
  }

  private def indexLookup(p: Probe): Unit = {
    val n = served("n_tok")
    def ids: DataFrame = p match {
      case Eq(v) => n === v
      case Between(lo, hi) => n.between(lo, hi)
    }
    val expected = p match {
      case Eq(v) => nTokCount(v)
      case Between(lo, hi) => (lo to hi).map(nTokCount(_)).sum
    }
    seen(p.toString)
    val (rows, t) = ms {
      if (!tr.on) served.gather(ids, Seq("doc_id", "tokens")).collect()
      else tr.span("api.index_lookup") {
        val found = tr.span("index.consult")(ids.collect().map(_.getLong(0)))
        idsPerLookup += found.length.toDouble
        planned(served, Seq("doc_id", "tokens"), SelIds(found.sorted, found.indices.map(_.toLong).toArray))
        val idDf = found.toSeq.toDF("_row_id")
        tr.span("spark.execute")(served.gather(idDf, Seq("doc_id", "tokens")).collect())
      }
    }
    record("index_ms", t)
    if (tr.on) returnedValues += 2L * rows.length
    check(rows.length == expected, s"index $p: ${rows.length} rows, expected $expected")
    checkRows(rows.toSeq, s"index $p")
    rows.foreach { r =>
      val v = gen(docIndex(r.getAs[String]("doc_id"))).n_tok
      check(p match { case Eq(x) => v == x; case Between(lo, hi) => v >= lo && v <= hi },
        s"index $p returned a row with n_tok=$v")
    }
  }

  private def point(): Unit = {
    val rid = rng.nextInt(servedNrows.toInt)
    val d = gen(docOfRow(rid)).doc_id
    seen(s"point $d")
    val df = spark.read.format("graft").load(served.root)
      .where(col("doc_id") === d).select("doc_id", "tokens")
    val (rows, t) = ms(if (!tr.on) df.collect() else tr.span("api.point")(collect(df)))
    record("point_ms", t)
    check(rows.length == 1, s"point $d: ${rows.length} rows")
    checkRows(rows.toSeq, s"point $d")
  }

  private def slice(): Unit = {
    val s = rng.nextInt(servedNrows.toInt - 16).toLong
    seen(s"slice $s")
    val (rows, t) = ms {
      if (!tr.on) served.read(Seq("doc_id", "tokens"), Slice(s, s + 16)).collect()
      else tr.span("api.slice") {
        planned(served, Seq("doc_id", "tokens"), SelRange(s, s + 16, 1))
        collect(served.read(Seq("doc_id", "tokens"), Slice(s, s + 16)))
      }
    }
    record("slice_ms", t)
    if (tr.on) returnedValues += 2L * rows.length
    check(rows.map(_.getLong(0)).sorted.sameElements(s until s + 16), s"slice $s: wrong row ids")
    rows.foreach(r => check(docIndex(r.getString(1)) == docOfRow(r.getLong(0).toInt),
      s"slice $s: row ${r.getLong(0)} holds the wrong document"))
    checkRows(rows.toSeq, s"slice $s")
  }

  private def rowList(): Unit = {
    val ids = rng.ints(0, servedNrows.toInt).distinct().limit(8).toArray.map(_.toLong).toSeq
    seen(s"rows $ids")
    val (rows, t) = ms {
      if (!tr.on) served.read(Seq("doc_id", "tokens"), RowList(ids)).collect()
      else tr.span("api.rowlist") {
        planned(served, Seq("doc_id", "tokens"), SelIds(ids.sorted.toArray, ids.indices.map(_.toLong).toArray))
        tr.span("spark.execute")(served.read(Seq("doc_id", "tokens"), RowList(ids)).collect())
      }
    }
    record("rowlist_ms", t)
    if (tr.on) returnedValues += 2L * rows.length
    check(rows.map(_.getLong(0)).sorted.sameElements(ids.sorted), s"row list $ids: wrong row ids")
    rows.foreach(r => check(docIndex(r.getAs[String]("doc_id")) == docOfRow(r.getLong(0).toInt),
      s"row list: row ${r.getLong(0)} holds the wrong document"))
    checkRows(rows.toSeq, "row list")
  }

  private def smallAppend(): Unit = {
    val from = BaseRows + nextSmall * SmallAppendRows
    val df = spark.createDataFrame(gen.slice(from, from + SmallAppendRows).toSeq)
    nextSmall += 1
    val t = ms(append(served, df))._2
    record("append_ms", t)
    (from until from + SmallAppendRows).foreach { i => docOfRow += i; nTokCount(gen(i).n_tok) += 1 }
    servedNrows += SmallAppendRows
    check(served.nrows == servedNrows, s"append: ${served.nrows} rows, expected $servedNrows")
  }

  private var readNo = 0L
  private def lookupRequest(): Unit = {
    nextOp()
    if (readNo > 0 && readNo % ReadsPerAppend == 0 && nextSmall < MaxSmallAppends) {
      attempt("append")(smallAppend())
      nextOp()
    }
    readNo += 1
    (readNo % 4) match {
      case 0 =>
        val p = nextProbe()
        attempt(s"index $p")(indexLookup(p))
      case 1 => attempt("point")(point())
      case 2 => attempt("slice")(slice())
      case _ => attempt("row list")(rowList())
    }
    tr.on = false
  }

  // ------------------------------------------------------------- codec

  /** Single-thread encode/decode of chunk vectors cut from the base rows
    * the way the store cuts them (about 1 MiB of raw tokens per chunk).
    */
  private def codecMicro(): Unit = {
    val rows = gen.take(BaseRows)
    val vecs = mutable.ArrayBuffer.empty[ColVec]
    var from = 0
    while (from < rows.length) {
      var until = from
      var bytes = 0L
      while (until < rows.length && bytes < (1L << 20)) { bytes += 4L * rows(until).n_tok; until += 1 }
      val part = rows.slice(from, until)
      vecs += IntVec(part.map(_.n_tok))
      vecs += IntVec(part.flatMap(_.tokens))
      from = until
    }
    vecs += IntVec(rows.map(_.n_tok))
    vecs += StrVec(rows.map(_.doc_id))
    vecs += StrVec(rows.map(_.source))
    var encNs = 0L
    var decNs = 0L
    var stored = 0L
    val mix = mutable.LinkedHashMap(MixCodecs.map(_ -> 0.0): _*)
    vecs.foreach { v =>
      val t0 = System.nanoTime()
      val (blob, info) = Chunk.encodeWithInfo(v)
      val t1 = System.nanoTime()
      Chunk.decode(blob)
      decNs += System.nanoTime() - t1
      encNs += t1 - t0
      stored += blob.length
      mix(CodecId.name(info.codec)) = mix.getOrElse(CodecId.name(info.codec), 0.0) + 1
    }
    codecStats("codec.encode_ns_per_token") = encNs.toDouble / baseTokens
    codecStats("codec.decode_ns_per_token") = decNs.toDouble / baseTokens
    codecStats("codec.bytes_per_token") = stored.toDouble / baseTokens
    mix.foreach { case (k, v) => codecStats(s"codec.mix.$k") = v }
  }

  // --------------------------------------------------------------- run

  def run(): Boolean = {
    Timeline.mark("inputs")
    val setupS = setup()
    Timeline.mark("setup")
    warmUp()
    Timeline.mark("warmup")
    if (args.trace) codecMicro()
    def gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum
    val gc0 = gcMs
    // interleave: always run the kind furthest behind its quota, so every
    // metric samples the whole run and a short burst of host contention
    // cannot move one metric's median alone
    def own(kind: String, quota: Int, costS: Double): Int =
      if (args.workload != kind) quota
      else math.max(quota, (args.seconds / costS).round.toInt)
    val kinds = Seq(
      ("ingest", own("ingest", IngestCycles, IngestCycleS), () => ingestCycle()),
      ("scan", ScanPasses, () => scanPass()),
      ("lookup", own("lookup", LookupReads, ReadS), () => lookupRequest()))
    val done = mutable.Map(kinds.map(_._1 -> 0): _*)
    val busyS = mutable.Map(kinds.map(_._1 -> 0.0): _*)
    val tele = graft.ScaleProbe.timed(Parts) {
      var left = kinds.filter(k => done(k._1) < k._2)
      while (left.nonEmpty) {
        val (name, _, op) = left.minBy(k => done(k._1).toDouble / k._2)
        busyS(name) += ms(op())._2 / 1e3
        done(name) += 1
        left = kinds.filter(k => done(k._1) < k._2)
      }
    }
    Timeline.mark("measured")
    val gcDelta = gcMs - gc0
    if (args.trace) counts.settle()
    val heapMb = HeapWatch.maxAfterGc / 1048576.0
    System.out.println(f"peak_heap_mb=$heapMb%.1f over ${HeapWatch.gcs} collections, " +
      f"VmHWM=${peakRssMb()}%.0f MB")
    System.out.println(f"telemetry: steal=${tele.steal}%.4f other_busy=${tele.ext}%.4f " +
      f"own_util=${tele.util}%.4f window_s=${tele.sec}%.2f")
    System.out.println(f"setup_s=$setupS%.3f busy: " + kinds.map { case (k, _, _) =>
      f"$k=${done(k)}x/${busyS(k)}%.2fs/${busyS(k) / busyS.values.sum}%.3f" }.mkString(" "))
    System.out.println(s"samples: " + samples.map { case (k, v) => s"$k=${v.size}" }.mkString(" "))
    System.out.println(s"error_rate: $failed/$attempted")
    val metrics =
      if (!args.trace) endToEnd(setupS, heapMb)
      else {
        tr.writeJson(s"${args.work}/../trace-${args.workload}-${args.seed}.json")
        System.out.println("jobs by call-site file: " + counts.jobsBySite.toString)
        perLayer(tele, gcDelta)
      }
    System.out.println(Timeline.line)
    System.out.println(resultJson(failed == 0, attempted, failed, metrics))
    failed == 0
  }

  private def endToEnd(setupS: Double, heapMb: Double): Seq[(String, Double)] = {
    val readMs = Seq("index_ms", "point_ms", "slice_ms", "rowlist_ms").flatMap(got)
    System.out.println(s"lookup_p75_ms pooled over ${readMs.size} reads " +
      s"(${readMs.size - math.ceil(readMs.size * 0.75).toInt} beyond it)")
    Seq(
      "setup_s" -> setupS,
      "peak_heap_mb" -> heapMb,
      "ingest_tok_per_s" -> median(got("ingest_tok_per_s")),
      "size_vs_reference" -> median(got("size_vs_reference")),
      "update_p50_ms" -> median(got("update_ms")),
      "vacuum_s" -> median(got("vacuum_s")),
      "scan_tok_per_s" -> baseTokens / median(got("scan_s")),
      "filtered_scan_s" -> median(got("filtered_scan_s")),
      "ordered_scan_s" -> median(got("ordered_scan_s")),
      "index_lookup_p50_ms" -> median(got("index_ms")),
      "point_p50_ms" -> median(got("point_ms")),
      "slice_p50_ms" -> median(got("slice_ms")),
      "rowlist_p50_ms" -> median(got("rowlist_ms")),
      "lookup_p75_ms" -> quantile(readMs, 0.75),
      "append_p50_ms" -> median(got("append_ms")))
  }

  private def perLayer(tele: graft.ScaleProbe.Rep, gcMs: Long): Seq[(String, Double)] = {
    val roots = tr.roots
    val ops = math.max(1, roots.size).toDouble
    def spanMedian(name: String, scale: Double): Double =
      median(tr.spans.filter(_.name == name).map(_.ns / scale).toSeq)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val reqs = roots.flatMap(r => Option(counts.byReq.get(r.id)))
    val self = tr.selfNsByLayer
    // overhead: traced over untraced median, averaged over the kinds whose
    // traced path makes the same engine calls
    val kinds = SameCallKinds.filter(k => got(k).nonEmpty && got(s"$k#traced").nonEmpty)
    val overhead = mean(kinds.map(k => median(got(s"$k#traced")) / median(got(k)) - 1.0))
    val sites = SiteFiles.map(f => s"spark.jobs_by_site.$f" ->
      Option(counts.jobsBySite.get(f)).map(_.toDouble).getOrElse(0.0) / ops)
    val otherJobs = reqs.map(_.jobs).sum -
      SiteFiles.map(f => Option(counts.jobsBySite.get(f)).getOrElse(0)).sum
    val gens = {
      val dirs = Index.table(spark, served.store, "n_tok").inputFiles
        .map(f => new java.net.URI(f).getPath.split('/').dropRight(1).last)
      dirs.distinct.count(_.startsWith("_gen-")).toDouble
    }
    codecStats.toSeq ++ Seq(
      "store.append_s" -> spanMedian("store.append", 1e9),
      "store.update_s" -> spanMedian("store.update", 1e9),
      "store.vacuum_s" -> spanMedian("store.vacuum", 1e9),
      "store.stored_bytes_per_raw_byte" -> mean(storedPerRaw.toSeq),
      "store.bytes_rewritten_update" -> mean(rewrittenPerUpdate.toSeq),
      "store.bytes_reclaimed_vacuum" -> mean(reclaimedPerVacuum.toSeq),
      "store.meta_ops_per_op" -> mean(metaOpsPerOp.toSeq),
      "store.chunks_planned_per_op" -> plannedChunks.toDouble / math.max(1L, plannedOps),
      "store.rows_returned_per_row_decoded" ->
        returnedValues.toDouble / math.max(1L, plannedValues),
      "store.segments" -> served.store.segments.size.toDouble,
      "index.refresh_s_per_append" -> spanMedian("index.refresh", 1e9),
      "index.rebuild_s_per_update" -> spanMedian("index.rebuild", 1e9),
      "index.consult_ms" -> spanMedian("index.consult", 1e6),
      "index.ids_per_lookup" -> mean(idsPerLookup.toSeq),
      "index.generations" -> gens,
      "sources.plan_ms" -> spanMedian("sources.plan", 1e6),
      "sources.partitions_per_scan" -> mean(partitionsPerScan.toSeq),
      "spark.jobs_per_op" -> reqs.map(_.jobs).sum / ops,
      "spark.tasks_per_op" -> reqs.map(_.tasks).sum / ops,
      "spark.task_run_ms_per_op" -> reqs.map(_.runMs).sum / ops,
      "spark.sched_delay_ms_per_op" -> reqs.map(_.schedMs).sum / ops) ++
      sites ++ Seq(
      "spark.jobs_by_site.other" -> math.max(0, otherJobs) / ops,
      "jvm.gc_ms" -> gcMs.toDouble) ++
      Layers.map(l => s"self_ms_per_op.$l" -> self.getOrElse(l, 0L) / 1e6 / ops) ++ Seq(
      "trace.overhead_share" -> overhead,
      "trace.spans" -> tr.spans.size.toDouble,
      "requests.repeated_share" -> repeatedReads.toDouble / math.max(1L, reads),
      "host.steal_share" -> tele.steal,
      "host.other_busy_share" -> tele.ext,
      "host.own_cpu_util" -> tele.util)
  }
}
