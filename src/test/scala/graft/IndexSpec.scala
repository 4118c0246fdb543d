package graft

import graft.api._
import graft.index.{Index, RowIds}
import graft.store.{AsIs, ColumnSpec, TableSpec}
import graft.codec.PType
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** F2 index/query ports: test_query.py (predicates vs filter oracle),
  * test_create_index.py (sort-permutation oracle, string index, updating
  * staleness), plus the interval-boundary fixture the reference never
  * tests ("[)", "(]", "()" with duplicates at both bounds).
  */
class IndexSpec extends AnyFunSuite {
  import SparkTestBase._

  private def mkQueryStore(): (Columns, IndexedSeq[(Long, Float)]) = {
    // test_query.py:10-17: id = 0..19, rand ~ U(0, 20), seed 333
    val rnd = new java.util.Random(333)
    val data = (0 until 20).map(i => (i.toLong, rnd.nextFloat() * 20f))
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("rand", FloatType, nullable = false)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(data.map(d => Row(d._1, d._2)), 2), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-q"), df)
    c("id").createIndex()
    c("rand").createIndex()
    (c, data)
  }

  test("querying a non-indexed column raises (test_query.py:25-27)") {
    val (c, _) = mkQueryStore()
    c("id").dropIndex()
    intercept[IllegalArgumentException] { (c("id") > 5L).collect() }
    c.dropStore()
  }

  test("indexed predicates match the filter oracle (Q1-Q4)") {
    val (c, data) = mkQueryStore()
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] = RowIds.collectSorted(df).toSeq

    assert(ids(c("id") > 5L) == data.filter(_._1 > 5).map(_._1))
    assert(ids(c("id") >= 5L) == data.filter(_._1 >= 5).map(_._1))
    assert(ids(c("id") <= 12L) == data.filter(_._1 <= 12).map(_._1))
    assert(ids(c("id") < 12L) == data.filter(_._1 < 12).map(_._1))
    assert(ids(c("rand") > 10f) == data.filter(_._2 > 10f).map(_._1))
    assert(ids(c("id") === 7L) == Seq(7L))
    assert(ids(c("id") =!= 7L) == data.map(_._1).filterNot(_ == 7L))
    assert(ids(c("id").matchIn(Seq(9L, 15L))) == Seq(9L, 15L))
    c.dropStore()
  }

  test("between with all four interval types incl. duplicate bounds (Q3)") {
    // duplicates at both bounds — closes the reference's test gap
    val vals = Seq(1, 3, 3, 3, 5, 7, 7, 9).map(_.toLong)
    val schema = StructType(Seq(StructField("v", LongType, nullable = false)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(Row(_)), 2), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-b"), df)
    c("v").createIndex()
    def oracle(p: Long => Boolean): Seq[Long] =
      vals.zipWithIndex.filter(x => p(x._1)).map(_._2.toLong)
    def got(interval: String): Seq[Long] =
      RowIds.collectSorted(c("v").between(3L, 7L, interval)).toSeq
    assert(got("[]") == oracle(v => v >= 3 && v <= 7))
    assert(got("[)") == oracle(v => v >= 3 && v < 7))
    assert(got("(]") == oracle(v => v > 3 && v <= 7))
    assert(got("()") == oracle(v => v > 3 && v < 7))
    intercept[IllegalArgumentException] { c("v").between(1L, 2L, "??") }
    c.dropStore()
  }

  test("AND / OR of row-id sets: sorted unique (Q5/Q6, test_query.py:56-79)") {
    val (c, data) = mkQueryStore()
    val a = c("id") > 5L
    val b = c("rand") > 10f
    val and = RowIds.collectSorted(RowIds.and(a, b)).toSeq
    val or = RowIds.collectSorted(RowIds.or(a, b)).toSeq
    assert(and == data.filter(d => d._1 > 5 && d._2 > 10f).map(_._1))
    assert(or == data.filter(d => d._1 > 5 || d._2 > 10f).map(_._1))
    // sorted unique contract
    assert(or == or.distinct.sorted)
    c.dropStore()
  }

  test("index equals sort permutation at 1M rows (test_create_index.py oracle)") {
    val n = 1000000
    val rnd = new java.util.Random(333)
    val vals = Array.fill(n)(rnd.nextDouble())
    val schema = StructType(Seq(StructField("rand", DoubleType, nullable = false)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.toSeq.map(Row(_)), 8), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-i"), df)
    c("rand").createIndex()
    // reference asserts index == np.argsort(data) and sorted == data[index]
    val idx = Index.table(spark, c.store, "rand")
      .orderBy("value", "row_id").collect()
    val perm = idx.map(r => r.getLong(r.fieldIndex("row_id")))
    val sortedVals = idx.map(r => r.getDouble(r.fieldIndex("value")))
    val oracle = vals.zipWithIndex.sortBy(_._1).map(_._2.toLong)
    assert(perm.sameElements(oracle))
    assert(sortedVals.sameElements(vals.sorted))
    c.dropStore()
  }

  test("string index + equality lookup (test_create_index.py:77-122)") {
    val rnd = new java.util.Random(55)
    val vals = (0 until 20).map(_ => f"${rnd.nextFloat()}%.3f".take(5))
    val schema = StructType(Seq(StructField("scol", StringType, nullable = false)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(Row(_)), 2), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-s"), df)
    c("scol").createIndex()
    val target = vals(7)
    val expect = vals.zipWithIndex.filter(_._1 == target).map(_._2.toLong)
    assert(RowIds.collectSorted(c("scol") === target).toSeq == expect)
    c.dropStore()
  }

  test("updating{} defers index rebuild; stale index visible inside (I5)") {
    // test_create_index.py:129-185: ind = 0..19 indexed; append rows with
    // value 88; inside the context == 88 finds nothing, after exit finds all
    val schema = StructType(Seq(StructField("ind", LongType, nullable = false)))
    def df(vals: Seq[Long], parts: Int = 1) = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(Row(_)), parts), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-u"), df(0L until 20L))
    c("ind").createIndex()
    c.updating { cc =>
      (0 until 5).foreach(_ => cc.append(df(Seq(88L))))
      assert(RowIds.collectSorted(cc("ind") === 88L).isEmpty,
        "stale index must not see new rows inside updating{}")
    }
    assert(RowIds.collectSorted(c("ind") === 88L).length == 5)
    c.dropStore()
  }

  test("append without updating{} rebuilds the index immediately") {
    val schema = StructType(Seq(StructField("ind", LongType, nullable = false)))
    def df(vals: Seq[Long]) = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(Row(_)), 1), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-u2"), df(0L until 10L))
    c("ind").createIndex()
    c.append(df(Seq(77L)))
    assert(RowIds.collectSorted(c("ind") === 77L).toSeq == Seq(10L))
    c.dropStore()
  }

  test("update inside updating{} stays stale, rebuilds on exit") {
    val schema = StructType(Seq(StructField("ind", LongType, nullable = false)))
    val c = Columns.fromDataFrame(spark, tmpDir("graft-u4"),
      spark.createDataFrame(
        spark.sparkContext.parallelize((0L until 10L).map(Row(_)), 1), schema))
    c("ind").createIndex()
    c.updating { cc =>
      cc("ind").update(Seq(3L), Seq(99L))
      // stale index still maps row 3 to the old value
      assert(RowIds.collectSorted(cc("ind") === 99L).isEmpty)
      assert(RowIds.collectSorted(cc("ind") === 3L).toSeq == Seq(3L))
    }
    // exit: rebuilt even though nrows did not change
    assert(RowIds.collectSorted(c("ind") === 99L).toSeq == Seq(3L))
    assert(RowIds.collectSorted(c("ind") === 3L).isEmpty)
    c.dropStore()
  }

  test("scatter update to an indexed column refreshes the index") {
    val schema = StructType(Seq(StructField("ind", LongType, nullable = false)))
    val c = Columns.fromDataFrame(spark, tmpDir("graft-u3"),
      spark.createDataFrame(
        spark.sparkContext.parallelize((0L until 10L).map(Row(_)), 1), schema))
    c("ind").createIndex()
    c("ind").update(Seq(3L), Seq(99L))
    assert(RowIds.collectSorted(c("ind") === 99L).toSeq == Seq(3L))
    assert(RowIds.collectSorted(c("ind") === 3L).isEmpty)
    c.dropStore()
  }

  test("incremental refresh sorts only appended rows, base files untouched") {
    sys.props("graft.index.gc.graceMs") = "0"
    val schema = StructType(Seq(StructField("ind", LongType, nullable = false)))
    def df(vals: Seq[Long], parts: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(Row(_)), parts), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-incr"), df(0L until 50000L, 4))
    c("ind").createIndex()
    val idxDir = Index.dir(c.store, "ind")
    val baseDir = Index.basePath(c.store, "ind") // versioned `_base-*` subdir
    def files(pred: String => Boolean): Seq[String] =
      graft.store.FsIO.list(idxDir).filter(pred).sorted
    def baseFiles(): Seq[String] = graft.store.FsIO.list(baseDir)
      .filter(f => f.startsWith("part-") && f.endsWith(".parquet")).sorted
    val baseBefore = baseFiles()
    assert(baseBefore.nonEmpty)

    // count shuffle-write records across the append + auto-refresh: the
    // refresh's range sort must move O(new rows), not O(table)
    val shuffled = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          shuffled.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the append and its refresh, the refresh forced onto the distributed
      // sort (a run this small is otherwise built on the driver, no shuffle)
      c.store.append(spark, df(100000L until 102000L, 2))
      driverRows(-1)(Index.refresh(spark, c.store, "ind", maxDeltaGens = 8))
      // listener events are async: poll until the counter stabilizes
      var last = -1L
      var same = 0
      var spins = 0
      while (same < 3 && spins < 50) {
        val v = shuffled.get()
        if (v == last) same += 1 else { same = 0; last = v }
        Thread.sleep(100)
        spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)

    // O(new-segment): the sort shuffled ~2k rows, nowhere near the 52k table
    assert(shuffled.get() > 0, "expected the refresh to shuffle the delta")
    assert(shuffled.get() <= 3L * 2000L,
      s"refresh shuffled ${shuffled.get()} records — looks like a full re-sort")
    // base generation untouched; one committed delta generation holding
    // exactly the appended rows
    assert(baseFiles() == baseBefore)
    val gens = Index.deltaGens(c.store, "ind")
    assert(gens.size == 1, s"expected one delta generation, got $gens")
    assert(spark.read.parquet(s"$idxDir/${gens.head}").count() == 2000L)
    assert(Index.table(spark, c.store, "ind").count() == 52000L)

    // lookups see old + new rows; DSv2 routing considers the index fresh
    assert(RowIds.collectSorted(c("ind") === 100001L).toSeq == Seq(50001L))
    assert(RowIds.collectSorted(c("ind") > 49998L).length == 1 + 2000)
    assert(Index.routableFor(c.store.snapshot, "ind"))

    // a second append stacks another generation
    c.append(df(Seq(200000L), 1))
    assert(Index.deltaGens(c.store, "ind").size == 2)
    assert(RowIds.collectSorted(c("ind") === 200000L).toSeq == Seq(52000L))

    // in-place update: values changed → delta can't express it → full
    // rebuild collapses the generations; their dirs are tombstoned by the
    // rebuild's sweep and deleted by the NEXT one (grace from delisting —
    // a reader on the previous meta may still be mid-scan)
    c("ind").update(Seq(0L), Seq(777777L))
    assert(Index.deltaGens(c.store, "ind").isEmpty,
      "full rebuild must collapse delta generations")
    Index.gcSweep(c.store, "ind") // the next maintenance event's sweep
    assert(files(_.startsWith("_gen-")).isEmpty, "gen dirs must be GC'd")
    assert(RowIds.collectSorted(c("ind") === 777777L).toSeq == Seq(0L))
    assert(RowIds.collectSorted(c("ind") === 200000L).toSeq == Seq(52000L))
    c.dropStore()
  }

  test("refresh past maxDeltaGens MERGES deltas — base sort untouched") {
    sys.props("graft.index.gc.graceMs") = "0" // immediate GC for assertions
    val schema = StructType(Seq(StructField("ind", LongType, nullable = false)))
    def df(vals: Seq[Long], parts: Int = 1) = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(Row(_)), parts), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-gens"), df(0L until 10000L, 4))
    c("ind").createIndex()
    val idxDir = Index.dir(c.store, "ind")
    val baseDir = Index.basePath(c.store, "ind")
    val baseBefore = graft.store.FsIO.list(baseDir)
      .filter(f => f.startsWith("part-") && f.endsWith(".parquet")).sorted
    (0 until 10).foreach(i => c.append(df(Seq(100000L + i))))
    // appends 1-8 stack gens; the 9th hits the cap and MERGES all deltas
    // into one generation (O(delta) — no table rebuild); the 10th stacks
    val gens = Index.deltaGens(c.store, "ind")
    assert(gens.size == 2, s"expected merge at the cap, got ${gens.size} gens")
    // the merge never rewrote the base sort (same versioned base dir)
    assert(Index.basePath(c.store, "ind") == baseDir)
    assert(graft.store.FsIO.list(baseDir)
      .filter(f => f.startsWith("part-") && f.endsWith(".parquet")).sorted == baseBefore)
    // merged-away gen dirs were GC'd: only live dirs remain
    assert(graft.store.FsIO.list(idxDir).count(_.startsWith("_gen-")) == 2)
    // every appended value still findable after the collapse
    (0 until 10).foreach(i =>
      assert(RowIds.collectSorted(c("ind") === (100000L + i)).toSeq == Seq(10000L + i)))
    assert(Index.routableFor(c.store.snapshot, "ind"))
    c.dropStore()
  }

  test("deltas reaching a quarter of the table trigger a full rebuild") {
    val schema = StructType(Seq(StructField("ind", LongType, nullable = false)))
    def df(vals: Seq[Long], parts: Int = 1) = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(Row(_)), parts), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-ratio"), df(0L until 1000L, 2))
    c("ind").createIndex()
    c.append(df(10000L until 10100L, 1)) // 100/1100 — incremental
    assert(Index.deltaGens(c.store, "ind").size == 1)
    c.append(df(20000L until 20500L, 1)) // (100+500)*4 > 1600 — rebuild
    assert(Index.deltaGens(c.store, "ind").isEmpty,
      "large delta fraction must collapse into the base sort")
    assert(RowIds.collectSorted(c("ind") === 20400L).toSeq == Seq(1500L))
    assert(RowIds.collectSorted(c("ind") === 10050L).toSeq == Seq(1050L))
    c.dropStore()
  }

  test("concurrent refreshes: CAS arbitration keeps the index exactly-once") {
    sys.props("graft.index.gc.graceMs") = "0"
    val schema = StructType(Seq(StructField("ind", LongType, nullable = false)))
    def df(vals: Seq[Long], parts: Int = 1) = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(Row(_)), parts), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-race"), df(0L until 5000L, 2))
    c("ind").createIndex()
    // append through the STORE (no API auto-refresh), then race two
    // explicit refreshes; each either wins its CAS commit or re-reads the
    // winner and no-ops — never a lost update, never double-listed rows
    c.store.append(spark, df(90000L until 91000L, 1), graft.store.AsIs,
      lineage = "race:append")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map(_ => new Thread(() =>
      try Index.refresh(spark, c.store, "ind")
      catch { case t: Throwable => errs.add(t) }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"refresh raced into an error: ${errs.peek()}")
    // effective meta covers every row EXACTLY once (a double-committed gen
    // would make the union over-count; a lost update would under-count)
    assert(Index.readMeta(c.store, "ind").rows == 6000L)
    assert(Index.table(spark, c.store, "ind").count() == 6000L)
    assert(RowIds.collectSorted(c("ind") === 90500L).toSeq == Seq(5500L))
    assert(RowIds.collectSorted(c("ind") > 89999L).length == 1000)
    assert(Index.routableFor(c.store.snapshot, "ind"))
    // refresh racing a full rebuild converges too
    c.store.append(spark, df(Seq(95000L), 1), graft.store.AsIs, lineage = "race:2")
    val t1 = new Thread(() => try Index.refresh(spark, c.store, "ind")
      catch { case t: Throwable => errs.add(t) })
    val t2 = new Thread(() => try Index.create(spark, c.store, "ind", overwrite = true)
      catch { case t: Throwable => errs.add(t) })
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(errs.isEmpty, s"refresh/rebuild race error: ${errs.peek()}")
    // whichever meta won, it is self-consistent: rows == union count
    val m = Index.readMeta(c.store, "ind")
    assert(Index.table(spark, c.store, "ind").count() == m.rows)
    // and a follow-up refresh lands on the fully-fresh state
    Index.refresh(spark, c.store, "ind")
    assert(Index.readMeta(c.store, "ind").rows == 6001L)
    assert(RowIds.collectSorted(c("ind") === 95000L).toSeq == Seq(6000L))
    c.dropStore()
  }

  test("full rebuild racing an incremental refresh cannot double-list rows") {
    // versioned bases: a rebuild writes a NEW `_base-*` dir and commits it,
    // never overwriting what a racing incremental meta references — so
    // whichever CAS winner emerges, base ∪ gens covers every row EXACTLY
    // once (an in-place base overwrite would have double-listed the
    // rebuilt rows under the incremental meta's old-base + delta view)
    sys.props("graft.index.gc.graceMs") = "0"
    val schema = StructType(Seq(StructField("ind", LongType, nullable = false)))
    def df(vals: Seq[Long], parts: Int = 1) = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(Row(_)), parts), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-baserace"), df(0L until 8000L, 2))
    c("ind").createIndex()
    val baseA = Index.basePath(c.store, "ind")
    c.store.append(spark, df(50000L until 50500L, 1), graft.store.AsIs,
      lineage = "baserace:append")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val t1 = new Thread(() =>
      try Index.create(spark, c.store, "ind", overwrite = true)
      catch { case t: Throwable => errs.add(t) })
    val t2 = new Thread(() => try Index.refresh(spark, c.store, "ind")
      catch { case t: Throwable => errs.add(t) })
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(errs.isEmpty, s"race error: ${errs.peek()}")
    // EXACTLY-ONCE coverage whichever meta won
    val m = Index.readMeta(c.store, "ind")
    assert(m.rows == 8500L, s"winner covers ${m.rows}")
    assert(Index.table(spark, c.store, "ind").count() == 8500L,
      "base ∪ gens double- or under-lists rows")
    assert(RowIds.collectSorted(c("ind") === 50250L).toSeq == Seq(8250L))
    assert(RowIds.collectSorted(c("ind") === 7999L).toSeq == Seq(7999L))
    // a rebuild moves the base to a fresh versioned dir
    if (m.gens.isEmpty) assert(Index.basePath(c.store, "ind") != baseA)
    c.dropStore()
  }

  test("meta CAS commit: stale-epoch commit loses; winner is deterministic") {
    val schema = StructType(Seq(StructField("ind", LongType, nullable = false)))
    def df(vals: Seq[Long], parts: Int = 1) = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(Row(_)), parts), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-cas"), df(0L until 100L, 1))
    c("ind").createIndex()
    val (m, e) = Index.readMetaEpoch(c.store, "ind")
    // a commit at the next epoch wins...
    assert(Index.commitMeta(c.store, "ind", m.copy(version = m.version), e + 1))
    // ...after which a commit built from the STALE epoch loses cleanly:
    // it targets e+1 too, and the same-epoch tie-break is uuid-ordered, so
    // run it at the stale writer's view repeatedly — whenever commitMeta
    // reports a loss the effective meta must be someone else's
    val (m2, e2) = Index.readMetaEpoch(c.store, "ind")
    assert(e2 == e + 1)
    val wonA = Index.commitMeta(c.store, "ind", m2.copy(rows = 111L), e2 + 1)
    val wonB = Index.commitMeta(c.store, "ind", m2.copy(rows = 222L), e2 + 1)
    val eff = Index.readMeta(c.store, "ind").rows
    // the loser-reported commit is never the effective meta
    if (!wonA) assert(eff != 111L)
    if (!wonB) assert(eff != 222L)
    assert(eff == 111L || eff == 222L)
    // readers always converge on ONE deterministic winner
    assert(Index.readMeta(c.store, "ind").rows == eff)
    c.dropStore()
  }

  test("stamp-less index meta fails with unsupported graft format version") {
    val (c, _) = mkQueryStore()
    val d = Index.dir(c.store, "id")
    // the meta older builds wrote: row count only, base sort at the dir root
    val w = new graft.codec.Bytes.Writer(); w.writeVar(20L)
    val meta = f"$d/_meta-${1L << 40}%019d-ffffffffffff.bin" // the winning epoch
    graft.store.FsIO.writeAtomic(meta, w.result())
    assertUnsupported(meta)(Index.readMeta(c.store, "id").rows)
    // a scan never routes through an index it cannot read
    assert(!Index.routableFor(c.store.snapshot, "id"))
    c.dropStore()
  }

  test("indexed query feeds gather (entry point B, SURVEY.md §3.2)") {
    val (c, data) = mkQueryStore()
    val ids = RowIds.and(c("id") > 5L, c("rand") > 10f)
    val out = c.gather(ids, Seq("id", "rand")).collect().sortBy(_.getLong(0))
    val expect = data.filter(d => d._1 > 5 && d._2 > 10f)
    assert(out.map(_.getLong(1)).toSeq == expect.map(_._1))
    assert(out.map(_.getFloat(2)).toSeq == expect.map(_._2))
    c.dropStore()
  }

  test("gather strategies agree: SelIds, coarse SelRanges, full-scan fallback") {
    val (c, data) = mkQueryStore()
    val ids = RowIds.and(c("id") > 5L, c("rand") > 10f)
    val expect = data.filter(d => d._1 > 5 && d._2 > 10f).map(_._1)
    def got(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(1)).sorted.toSeq
    // 1. SelIds (default: id set below collect limit)
    assert(got(c.gather(ids, Seq("id"))) == expect)
    // 2. coarse SelRanges + residual semi-join (force with tiny limits)
    assert(got(c.gather(ids, Seq("id"), idCollectLimit = 2, rangeGranule = 16L,
      maxRanges = 1 << 20)) == expect)
    // 3. full-scan + semi-join fallback (range budget exhausted too)
    assert(got(c.gather(ids, Seq("id"), idCollectLimit = 2, rangeGranule = 1L,
      maxRanges = 2)) == expect)
    c.dropStore()
  }

  test("gather SelIds decodes only chunks containing hits") {
    val (c, _) = mkQueryStore()
    val st = c.store
    val sel = graft.store.SelIds(Array(3L, 4L), Array(0L, 1L))
    val (units, _) = st.planUnits(Seq("id"), sel)
    val read = units.map(_.colChunks.valuesIterator.map(_.size).sum).sum
    val (all, _) = st.planUnits(Seq("id"), graft.store.SelAll)
    val total = all.map(_.colChunks.valuesIterator.map(_.size).sum).sum
    assert(read < total, s"point gather decodes $read of $total chunks")
    assert(read <= 2)
    c.dropStore()
  }

  test("sub-tables nest with independent nrows (test_access.py:228-274)") {
    val schema = StructType(Seq(StructField("x", DoubleType, nullable = false)))
    def df(n: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until n).map(i => Row(i.toDouble)), 1), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-sub"), df(20))
    val s1 = c.createSubFromDataFrame("sub1", df(25))
    val s2 = s1.createSubFromDataFrame("sub2", df(15))
    assert(c.nrows == 20 && s1.nrows == 25 && s2.nrows == 15)
    assert(c.subNames == Seq("sub1"))
    assert(c.sub("sub1").sub("sub2").nrows == 15)
    c.dropSub("sub1")
    assert(c.subNames.isEmpty)
    c.dropStore()
  }

  test("engine jobs carry graft descriptions: index build, incremental refresh, vacuum") {
    val schema = StructType(Seq(StructField("ind", LongType, nullable = false)))
    def df(vals: Seq[Long], parts: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(Row(_)), parts), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-jobdesc"), df(0L until 20000L, 2))
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descs.add)
    }
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    sc.addSparkListener(listener)
    try {
      // build and incremental refresh forced onto the distributed sort: runs
      // this small are otherwise built on the driver with no job at all
      driverRows(-1)(Index.create(spark, c.store, "ind", overwrite = false))
      c.store.append(spark, df(20000L until 21000L, 1))
      driverRows(-1)(Index.refresh(spark, c.store, "ind", maxDeltaGens = 8))
      assert(Index.deltaGens(c.store, "ind").size == 1)
      // an update and a vacuum this small run on the driver too
      driverRows(-1) {
        c("ind").update(Seq(5L), Seq(-5L))
        c.vacuum()
      }
      // the caller's own description is back after every engine call
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      // listener events are async: poll until the queue stabilizes
      var last = -1
      var same = 0
      var spins = 0
      while (same < 3 && spins < 50) {
        val v = descs.size
        if (v == last) same += 1 else { same = 0; last = v }
        Thread.sleep(100)
        spins += 1
      }
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
    }
    val seen = descs.toArray.toSet
    Seq("graft: index build ind", "graft: append seg1", "graft: index refresh ind",
      "graft: update ind", "graft: vacuum").foreach(d =>
      assert(seen.contains(d), s"no job described '$d' in $seen"))
    c.dropStore()
  }

  test("vacuum never launders an update published around it into routability") {
    val schema = StructType(Seq(StructField("ind", LongType, nullable = false)))
    def df(vals: Seq[Long]) = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(Row(_)), 2), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-vac-route"), df(0L until 200L))
    c.append(df(200L until 400L)) // a second segment for compactSegments
    c("ind").createIndex()
    c("ind").update(Seq(5L), Seq(-5L)) // the facade rebuilds: fresh again
    assert(Index.routableFor(c.store.snapshot, "ind"))
    val built = Index.readMeta(c.store, "ind").version
    // vacuum keeps every (value, row_id) pair: still routable, no meta write
    graft.store.Mutate.vacuum(spark, c.store)
    assert(Index.routableFor(c.store.snapshot, "ind"))
    assert(Index.readMeta(c.store, "ind").version == built)
    // an update published between the vacuum and any later maintenance
    graft.store.Mutate.update(spark, c.store, "ind", Array(6L), Array(-6L: Any))
    assert(!Index.routableFor(c.store.snapshot, "ind"))
    c.vacuum()
    assert(!Index.routableFor(c.store.snapshot, "ind"), "vacuum laundered a stale index")
    c.compactSegments()
    assert(c.store.segments == Seq(0L))
    assert(!Index.routableFor(c.store.snapshot, "ind"), "compaction laundered a stale index")
    Index.refresh(spark, c.store, "ind")
    assert(Index.routableFor(c.store.snapshot, "ind"))
    assert(RowIds.collectSorted(c("ind") === -6L).toSeq == Seq(6L))
    c.dropStore()
  }

  test("a snapshot loaded while an update's job runs never routes through an older index") {
    import graft.store.{BinCodec, Change, Format, FsIO, Snapshot}
    val schema = StructType(Seq(StructField("ind", LongType, nullable = false)))
    val c = Columns.fromDataFrame(spark, tmpDir("graft-inflight"), spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 200L).map(Row(_)), 2), schema))
    c("ind").createIndex()
    assert(Index.routableFor(c.store.snapshot, "ind"))
    val m0 = c.store.snapshot.partManifest(0L, 0)
    // what an update's job leaves before it ends, or after a crash: one
    // partition's next manifest, published by no version of its own
    Snapshot.publishAround(c.root, Change.Update(Set("ind"))) {
      FsIO.writeAtomic(s"${Format.segDir(c.root, 0L)}/${Format.partManifestFile(0, 1)}",
        BinCodec.writePartManifest(m0.copy(updateVersion = 1)))
      Snapshot.forget(c.root) // a reader that never held the store
      val snap = c.store.snapshot
      assert(snap.partManifest(0L, 0).updateVersion == 1)
      assert(!Index.routableFor(snap, "ind"), "in-flight update routed through the older index")
    }
    assert(!Index.routableFor(c.store.snapshot, "ind"))
    Index.refresh(spark, c.store, "ind")
    assert(Index.routableFor(c.store.snapshot, "ind"))
    // both update paths run their rewrite inside that bracket, in a job or
    // on the driver: one version before it, one after
    val v0 = c.store.snapshot.version
    driverRows(-1)(graft.store.Mutate.update(spark, c.store, "ind", Array(3L), Array(-3L: Any)))
    assert(c.store.snapshot.version == v0 + 2)
    graft.store.Mutate.update(spark, c.store, "ind", Array(2L), Array(-2L: Any))
    assert(c.store.snapshot.version == v0 + 4)
    graft.store.Mutate.updateDf(spark, c.store, "ind", spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(4L, -4L)), 1), StructType(Seq(
        StructField("_row_id", LongType, nullable = false),
        StructField("value", LongType, nullable = false)))))
    assert(c.store.snapshot.version == v0 + 6)
    c.dropStore()
  }

  test("an update of one column keeps the other columns' indexes routable, unrebuilt") {
    val schema = StructType(Seq(StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false)))
    val c = Columns.fromDataFrame(spark, tmpDir("graft-percol-fresh"), spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 200L).map(i => Row(i, -i)), 2), schema))
    c("a").createIndex()
    c("b").createIndex()
    val builtB = Index.readMeta(c.store, "b")
    c("a").update(Seq(5L), Seq(-5L)) // the facade refreshes every index
    assert(Index.readMeta(c.store, "b") == builtB, "index on b rebuilt after an update of a")
    assert(Index.routableFor(c.store.snapshot, "b"))
    assert(Index.routableFor(c.store.snapshot, "a"))
    assert(RowIds.collectSorted(c("a") === -5L).toSeq == Seq(5L))
    assert(RowIds.collectSorted(c("b") === -5L).toSeq == Seq(5L))
    graft.store.Mutate.update(spark, c.store, "b", Array(7L), Array(70L: Any))
    assert(!Index.routableFor(c.store.snapshot, "b"))
    assert(Index.routableFor(c.store.snapshot, "a"))
    c.dropStore()
  }

  test("an index sweep's metadata ops stay flat however many dirs wait out the grace") {
    import graft.store.FsIO
    val schema = StructType(Seq(StructField("v", LongType, nullable = false)))
    def df(from: Long, until: Long) = spark.createDataFrame(
      spark.sparkContext.parallelize((from until until).map(Row(_)), 2), schema)
    val prevGrace = sys.props.get("graft.index.gc.graceMs")
    sys.props("graft.index.gc.graceMs") = (60L * 60 * 1000).toString
    try {
      // leftover `_gen-*` dirs, tombstoned by one sweep and then waiting out
      // the grace; one refresh's metadata ops must not depend on their count
      def refreshOps(leftovers: Int): Long = {
        val c = Columns.fromDataFrame(spark, tmpDir("graft-gc-ops"), df(0L, 1000L))
        c("v").createIndex()
        val d = Index.dir(c.store, "v")
        (0 until leftovers).foreach(i => FsIO.mkdirs(s"$d/_gen-leftover$i"))
        Index.gcSweep(c.store, "v")
        c.store.append(spark, df(1000L, 1010L))
        FsIO.metaOps.set(0L)
        Index.refresh(spark, c.store, "v")
        val ops = FsIO.metaOps.get()
        // the grace keeps every leftover; no tombstone outlives its dir
        assert(FsIO.list(d).count(_.startsWith("_gen-leftover")) == leftovers)
        assert(FsIO.list(d).count(_.startsWith("_gone-")) == leftovers)
        c.dropStore()
        ops
      }
      assert(refreshOps(5) == refreshOps(60))

      // grace 0: the first sweep only tombstones an unreferenced dir (its
      // writer may not have committed yet), the next deletes it; a live
      // dir's stale tombstone goes and the dir stays
      sys.props("graft.index.gc.graceMs") = "0"
      val c = Columns.fromDataFrame(spark, tmpDir("graft-gc-grace"), df(0L, 100L))
      c("v").createIndex()
      val d = Index.dir(c.store, "v")
      val base = Index.readMeta(c.store, "v").base
      FsIO.mkdirs(s"$d/_gen-inflight")
      FsIO.writeAtomic(s"$d/_gone-0-$base", Array.emptyByteArray)
      Index.gcSweep(c.store, "v")
      assert(FsIO.exists(s"$d/_gen-inflight") && FsIO.exists(s"$d/$base"))
      assert(FsIO.list(d).filter(_.startsWith("_gone-")).forall(_.endsWith("-_gen-inflight")))
      Index.gcSweep(c.store, "v")
      assert(!FsIO.exists(s"$d/_gen-inflight") && FsIO.list(d).forall(!_.startsWith("_gone-")))
      assert(RowIds.collectSorted(c("v") === 42L).toSeq == Seq(42L))
      c.dropStore()
    } finally prevGrace match {
      case Some(g) => sys.props("graft.index.gc.graceMs") = g
      case None => sys.props.remove("graft.index.gc.graceMs")
    }
  }
}
