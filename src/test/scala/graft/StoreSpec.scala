package graft

import graft.codec._
import graft.store._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** F2 ports (FIXTURES.md): store round trip, read forms, append, casts,
  * updates, vacuum, resume — same seeds/shapes as the reference tests,
  * oracles recomputed in-JVM.
  */
class StoreSpec extends AnyFunSuite {
  import SparkTestBase._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("rand", FloatType, nullable = false),
    StructField("scol", StringType, nullable = false)))

  /** test_access.py:4-25 generator: id=0..n-1, rand~U(0,1) f4, scol="s"+id */
  private def refData(n: Int, seed: Long = 333L): IndexedSeq[(Long, Float, String)] = {
    val rnd = new java.util.Random(seed)
    (0 until n).map(i => (i.toLong, rnd.nextFloat(), s"s$i"))
  }

  private def refDf(data: Seq[(Long, Float, String)], parts: Int = 4): DataFrame = {
    val rows = data.map { case (a, b, c) => Row(a, b, c) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
  }

  private def mkStore(n: Int = 1000, chunkRows: Int = 37, parts: Int = 4): (ColumnStore, IndexedSeq[(Long, Float, String)]) = {
    val root = tmpDir("graft-store")
    val data = refData(n)
    val st = ColumnStore.create(root,
      ColumnStore.specFromSchema(schema, chunkRows = chunkRows))
    st.append(spark, refDf(data, parts), AsIs, lineage = "test:refData")
    (st, data)
  }

  test("full round trip preserves all values and row order (S2/S7)") {
    val (st, data) = mkStore()
    val out = st.read(spark).collect().sortBy(_.getLong(0))
    assert(out.length == data.length)
    out.zip(data).foreach { case (row, (id, rand, scol)) =>
      assert(row.getLong(0) == id) // row_id == arrival order (AsIs)
      assert(row.getLong(1) == id)
      assert(row.getFloat(2) == rand)
      assert(row.getString(3) == scol)
    }
    st.verify()
    st.dropStore()
  }

  test("column projection reads only requested columns (P1)") {
    val (st, data) = mkStore(200)
    val out = st.read(spark, Seq("scol")).collect().sortBy(_.getLong(0))
    assert(out.map(_.getString(1)).toSeq == data.map(_._3))
    assert(out.head.schema.fieldNames.toSeq == Seq("_row_id", "scol"))
    st.dropStore()
  }

  test("slice reads incl. stepped (P2/S4)") {
    val (st, data) = mkStore(500)
    // contiguous [100, 150)
    val a = st.read(spark, Seq("id"), SelRange(100, 150, 1)).collect().sortBy(_.getLong(0))
    assert(a.map(_.getLong(1)).toSeq == (100L until 150L))
    // stepped [10, 100) step 7 (reference turns stepped slices into arange)
    val b = st.read(spark, Seq("id"), SelRange(10, 100, 7)).collect().sortBy(_.getLong(0))
    assert(b.map(_.getLong(1)).toSeq == (10L until 100L by 7L))
    // a negative step from 5 with a stop past the end reads nothing, as
    // Python's a[5:huge:-1] does, whatever the stop's size
    val c = new graft.api.Columns(spark, st)
    for (stop <- Seq(100L, Long.MaxValue))
      assert(c.read(Seq("id"), graft.api.Slice(5, stop, -1)).collect().isEmpty,
        s"Slice(5, $stop, -1) read rows")
    st.dropStore()
  }

  test("negative-step slices read reversed in request order (P2, util.py:60-90)") {
    val (st, data) = mkStore(300, chunkRows = 37)
    val c = new graft.api.Columns(spark, st)
    // full reversal
    val rev = c.read(Seq("id"), graft.api.Slice(step = -1))
      .collect().sortBy(_.getLong(1)) // sort by _pos = request order
    assert(rev.map(_.getLong(2)).toSeq == data.map(_._1).reverse)
    // bounded negative step: 250, 247, ..., down to but excluding 100
    val part = c.read(Seq("id"), graft.api.Slice(250, 100, -3))
      .collect().sortBy(_.getLong(1))
    assert(part.map(_.getLong(2)).toSeq == (250L to 101L by -3L).toSeq)
    // negative wraparound endpoints
    val wrap = c.read(Seq("id"), graft.api.Slice(-1, -10, -1))
      .collect().sortBy(_.getLong(1))
    assert(wrap.map(_.getLong(2)).toSeq == (299L to 291L by -1L).toSeq)
    // EXPLICIT start=0 with negative step (Python s[0::-1]): at most the
    // first element — 0 must not be conflated with the unspecified sentinel
    val first = c.read(Seq("id"), graft.api.Slice(0, step = -1))
      .collect()
    assert(first.length == 1 && first(0).getLong(2) == 0L,
      s"Slice(0, step = -1) read ${first.length} rows (expected just row 0)")
    st.dropStore()
  }

  test("gather arbitrary rows in request order incl. duplicates (P3/P4)") {
    val (st, data) = mkStore(300)
    val ids = Array(250L, 3L, 3L, 299L, 0L, 42L)
    val sel = SelIds(ids, Array.tabulate(ids.length)(_.toLong))
    val out = st.read(spark, Seq("id", "scol"), sel).collect().sortBy(_.getLong(1))
    assert(out.length == ids.length)
    out.zipWithIndex.foreach { case (row, i) =>
      assert(row.getLong(0) == ids(i), s"row_id at pos $i")
      assert(row.getLong(2) == ids(i))
      assert(row.getString(3) == s"s${ids(i)}")
    }
    st.dropStore()
  }

  test("append adds a segment; mismatched column set rejected (S7)") {
    val (st, data) = mkStore(400)
    val more = refData(100, seed = 877L)
    st.append(spark, refDf(more, 2), AsIs)
    assert(st.snapshot.nrows == 500)
    val out = st.read(spark, Seq("rand")).collect().sortBy(_.getLong(0))
    assert(out.length == 500)
    // appended rows get ids after existing (rowstart chaining)
    assert(out.drop(400).map(_.getFloat(1)).toSeq == more.map(_._2))
    val bad = refDf(refData(10)).drop("scol")
    intercept[IllegalArgumentException] { st.append(spark, bad, AsIs) }
    st.verify()
    st.dropStore()
  }

  test("cast-on-write with fixed-width truncation (P6)") {
    val root = tmpDir("graft-cast")
    val spec = TableSpec(Seq(
      ColumnSpec("id", PType.I64.id),
      ColumnSpec("scol", PType.STR.id, fixedWidth = 5)), chunkRows = 16)
    val st = ColumnStore.create(root, spec)
    // ints arriving into a U5 string column: cast + truncate to 5 chars
    // (tests/test_access.py:169-182)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, 1234567L), Row(2L, 42L)), 1),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("scol", LongType, nullable = false))))
    st.append(spark, df, AsIs)
    val out = st.read(spark).collect().sortBy(_.getLong(0))
    assert(out(0).getString(2) == "12345") // truncated like numpy U5
    assert(out(1).getString(2) == "42")
    st.dropStore()
  }

  test("scatter update, sorted and unsorted, scalar broadcast (P5)") {
    val (st, data) = mkStore(200, chunkRows = 13)
    // unsorted rows with distinct values
    Mutate.update(spark, st, "rand", Array(150L, 3L, 77L),
      Array(1.5f, 2.5f, 3.5f))
    // scalar broadcast over a row set
    Mutate.update(spark, st, "scol", Array(0L, 199L), Array("zz"))
    val out = st.read(spark).collect().sortBy(_.getLong(0))
    assert(out(150).getFloat(2) == 1.5f)
    assert(out(3).getFloat(2) == 2.5f)
    assert(out(77).getFloat(2) == 3.5f)
    assert(out(0).getString(3) == "zz")
    assert(out(199).getString(3) == "zz")
    // untouched rows unchanged
    assert(out(100).getFloat(2) == data(100)._2)
    // out of bounds raises
    intercept[IllegalArgumentException] {
      Mutate.update(spark, st, "rand", Array(1000L), Array(0f))
    }
    st.dropStore()
  }

  test("distributed bulk update from a DataFrame (MERGE path)") {
    val (st, data) = mkStore(n = 2000, chunkRows = 64, parts = 4)
    val c = new graft.api.Columns(spark, st)
    // update 400 scattered rows: id -> id * 10, built as a distributed DF
    val upd = spark.range(0, 2000, 5) // ids 0,5,10,...
      .select(org.apache.spark.sql.functions.col("id").as("_row_id"),
        (org.apache.spark.sql.functions.col("id") * 10).as("value"))
    c("id").update(upd)
    val out = st.read(spark, Seq("id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    data.foreach { case (id, _, _) =>
      val want = if (id % 5 == 0) id * 10 else id
      assert(out(id) == want, s"row $id: ${out(id)} != $want")
    }
    // fixed-width string truncation applies on the bulk path too
    val st2 = ColumnStore.create(tmpDir("graft-bulkstr"), TableSpec(Seq(
      ColumnSpec("s", PType.STR.id, fixedWidth = 3))))
    st2.append(spark, spark.range(10).selectExpr("CAST(id AS STRING) AS s"), AsIs)
    val c2 = new graft.api.Columns(spark, st2)
    c2("s").update(spark.range(2).selectExpr("id AS _row_id", "'abcdef' AS value"))
    val got = st2.read(spark, Seq("s")).collect().sortBy(_.getLong(0)).map(_.getString(1))
    assert(got(0) == "abc" && got(1) == "abc" && got(2) == "2")
    // a value whose cast fails yields null, which getLong would read as 0 —
    // the bulk path must REJECT it loudly, not silently update row 0
    val (st3, _) = mkStore(n = 100, chunkRows = 32, parts = 2)
    val c3 = new graft.api.Columns(spark, st3)
    val bad = spark.range(1)
      .selectExpr("id + 5 AS _row_id", "CAST(NULL AS BIGINT) AS value")
    val ex = intercept[Exception] { c3("id").update(bad) }
    assert(ex.getMessage != null)
    val intact = st3.read(spark, Seq("id")).collect().map(_.getLong(1)).sorted
    assert(intact.toSeq == (0L until 100L), "failed update must not mutate data")
    st.dropStore(); st2.dropStore(); st3.dropStore()
  }

  test("compactSegments works on stores with columns added after segment 0") {
    val (st, data) = mkStore(200, chunkRows = 32, parts = 2)
    val c = new graft.api.Columns(spark, st)
    c.append(refDf(data, 2)) // second segment
    c.addColumn(ColumnSpec("w", PType.I64.id, fill = Some("7"))) // epoch = 2
    c.compactSegments()
    assert(st.segments == Seq(0L))
    val out = st.read(spark).collect().sortBy(_.getLong(0))
    assert(out.length == 400)
    // the backfilled column materialized through the rewrite with its fill
    val wIdx = out.head.schema.fieldIndex("w")
    assert(out.forall(_.getLong(wIdx) == 7L))
    // epochs reset: a follow-up append must carry ALL columns
    val full = st.read(spark).drop("_row_id")
    c.append(full)
    assert(st.snapshot.nrows == 800)
    st.dropStore()
  }

  test("repeated vacuum is a no-op; failed append leaves no tmp files") {
    val (st, _) = mkStore(500, chunkRows = 50)
    Mutate.update(spark, st, "rand", Array(3L, 77L), Array(1.5f, 2.5f))
    Mutate.vacuum(spark, st)
    val bytes1 = Mutate.storageBytes(st)
    def updateVersions = {
      val snap = st.snapshot
      snap.segments.flatMap(snap.partManifests).map(_.updateVersion.toLong).sum
    }
    val stamp1 = updateVersions
    val version1 = st.snapshot.version
    Mutate.vacuum(spark, st) // nothing left to reclaim -> must not rewrite
    assert(Mutate.storageBytes(st) == bytes1, "second vacuum rewrote data")
    assert(updateVersions == stamp1, "second vacuum bumped update versions")
    assert(st.snapshot.version == version1, "second vacuum published a store version")
    // a failed encode (null value) must clean up its tmp files
    val schemaN = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("rand", FloatType, nullable = true),
      StructField("scol", StringType, nullable = true)))
    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, 2.0f, null: String)), 1), schemaN)
    intercept[Exception] { st.append(spark, bad, AsIs) }
    // the failed segment dir has no commit record (not in st.segments) —
    // scan every segment directory for leaked attempt files
    val tmps = FsIO.list(s"${st.root}/${Format.SegmentsDir}")
      .flatMap(d => FsIO.list(s"${st.root}/${Format.SegmentsDir}/$d"))
      .filter(_.contains(".tmp-"))
    assert(tmps.isEmpty, s"orphan tmp files after failed append: $tmps")
    st.dropStore()
  }

  test("vacuum drops dead versions, keeps data identical (C5, test_vacuum.py)") {
    val (st, data) = mkStore(2000, chunkRows = 50)
    val rnd = new java.util.Random(9911)
    val ids = Array.tabulate(300)(_ => (rnd.nextInt(2000)).toLong).distinct
    val vals = ids.map(_ => rnd.nextInt(Int.MaxValue).toFloat)
    Mutate.update(spark, st, "rand", ids, vals.map(v => v: Any))
    val before = Mutate.storageBytes(st)
    val expected = st.read(spark).collect().sortBy(_.getLong(0)).map(_.toSeq)
    // the columns the update left alone keep their chunks where they are:
    // only a column with copy-on-write chunks has anything to reclaim
    def untouched() = st.snapshot.segments.flatMap(st.snapshot.partManifests)
      .flatMap(_.chunks).filter(_.column != "rand").sortBy(c => (c.file, c.offset))
    val kept = untouched()
    Mutate.vacuum(spark, st)
    assert(untouched() == kept)
    val after = Mutate.storageBytes(st)
    assert(after < before, s"storage did not shrink: $before -> $after")
    val got = st.read(spark).collect().sortBy(_.getLong(0)).map(_.toSeq)
    assert(got.toSeq == expected.toSeq)
    // no cow files left
    val leftover = st.segments.flatMap(s => FsIO.list(Format.segDir(st.root, s)))
      .filter(n => n.matches("p\\d+\\..+\\.c\\d+\\.v\\d+\\.bin"))
    assert(leftover.isEmpty, s"cow files remain: $leftover")
    st.dropStore()
  }

  test("resume: incomplete segment re-encodes only missing partitions (north rule)") {
    // resume requires an IDENTITY: the retried append carries the same
    // lineage, so the segment claim recognizes the orphan as its own
    val (st, _) = mkStore(400)
    val more = refData(200, seed = 55L)
    st.append(spark, refDf(more, 4), AsIs, lineage = "test:more")
    assert(st.snapshot.nrows == 600)
    // simulate executor loss after partial write: drop the commit record and
    // one partition's manifest + data of segment 1
    val segDir = Format.segDir(st.root, 1L)
    FsIO.delete(s"$segDir/_commit.bin")
    FsIO.delete(s"$segDir/p2.manifest.bin")
    FsIO.delete(s"$segDir/p2.id.bin")
    FsIO.delete(s"$segDir/p2.rand.bin")
    FsIO.delete(s"$segDir/p2.scol.bin")
    // the next published version shows the loss to every handle
    Snapshot.publish(st.root, Change.Reshape)
    assert(st.snapshot.nrows == 400) // uncommitted segment invisible
    // re-run the same append: completed partitions are skipped via their
    // manifest checkpoints, missing one is re-encoded, then commit lands
    st.append(spark, refDf(more, 4), AsIs, lineage = "test:more")
    assert(st.segments == Seq(0L, 1L), s"segments: ${st.segments}")
    assert(st.snapshot.nrows == 600)
    val out = st.read(spark, Seq("rand")).collect().sortBy(_.getLong(0))
    assert(out.drop(400).map(_.getFloat(1)).toSeq == more.map(_._2))
    st.verify()
    st.dropStore()
  }

  test("concurrent appends claim distinct segments — no interleaving") {
    val (st, _) = mkStore(100)
    val a = refData(80, seed = 11L)
    val b = refData(60, seed = 22L)
    // two writers, two store handles, one root — run the appends in
    // parallel threads so both race to claim the same next segment number
    val st2 = ColumnStore.open(st.root)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val t1 = new Thread(() =>
      try st.append(spark, refDf(a, 2), AsIs, lineage = "writer-a")
      catch { case e: Throwable => errs.add(e) })
    val t2 = new Thread(() =>
      try st2.append(spark, refDf(b, 2), AsIs, lineage = "writer-b")
      catch { case e: Throwable => errs.add(e) })
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(errs.isEmpty, s"concurrent append failed: ${errs.peek()}")
    // visibility order follows COMMIT order (nondeterministic between the
    // racing threads) — only the segment SET is fixed
    assert(st.segments.sorted == Seq(0L, 1L, 2L), s"segments: ${st.segments}")
    assert(st.segments.head == 0L, "the pre-existing segment stays first")
    assert(st.snapshot.nrows == 100 + 80 + 60)
    st.verify()
    // every value present exactly once: no partition interleaved into the
    // other writer's segment
    val rands = st.read(spark, Seq("rand")).collect().map(_.getFloat(1)).toSeq
    val expect = refData(100).map(_._2) ++ a.map(_._2) ++ b.map(_._2)
    assert(rands.sorted == expect.sorted)
    st.dropStore()
  }

  test("a handle opened before another handle's mutations reads every one of them") {
    val (a, data) = mkStore(400, chunkRows = 50)
    val b = ColumnStore.open(a.root) // opened (and read) before A mutates
    assert(b.snapshot.nrows == 400)
    def rands(st: ColumnStore): Seq[Float] =
      st.read(spark, Seq("rand")).collect().sortBy(_.getLong(0)).map(_.getFloat(1)).toSeq
    var expect = data.map(_._2)
    def check(what: String): Unit = {
      assert(b.snapshot.nrows == expect.size, s"$what: row count")
      assert(b.snapshot.spec == a.snapshot.spec, s"$what: spec")
      assert(rands(b) == expect, s"$what: values")
    }
    val more = refData(100, seed = 5L)
    a.append(spark, refDf(more, 2), AsIs, lineage = "two-handles")
    expect = expect ++ more.map(_._2)
    check("append")
    Mutate.update(spark, a, "id", Array(450L), Array(-450L: Any))
    Mutate.update(spark, a, "rand", Array(7L), Array(7.5f: Any))
    expect = expect.updated(7, 7.5f)
    check("update")
    // an index built through B sees A's update and is routable
    graft.index.Index.create(spark, b, "id")
    assert(graft.index.Index.routableFor(a.snapshot, "id"))
    assert(graft.index.RowIds.collectSorted(graft.index.Index.eq(spark, b, "id", -450L))
      .toSeq == Seq(450L))
    Mutate.vacuum(spark, a)
    check("vacuum")
    Mutate.compactSegments(spark, a)
    assert(b.segments == Seq(0L), "compactSegments: segments")
    check("compactSegments")
    assert(graft.index.Index.routableFor(b.snapshot, "id"))
    a.addColumn(ColumnSpec("extra", PType.I64.id, fill = Some("3")))
    check("addColumn")
    assert(b.read(spark, Seq("extra")).collect().forall(_.getLong(1) == 3L))
    a.dropColumn("extra")
    check("dropColumn")
    assert(!b.snapshot.spec.colNames.contains("extra"))
    a.dropStore()
  }

  test("row ids follow COMMIT order: late-committing lower segment appends after") {
    // writer A claims the next segment number first but commits LAST; B's
    // rows become visible first and their ids must NOT shift when A lands
    val (st, _) = mkStore(100)
    val a = refData(60, seed = 11L)
    val b = refData(40, seed = 22L)
    val stA = ColumnStore.open(st.root)
    val segA = stA.claimSegment("writer-a") // claims seg 1
    assert(segA == 1L)
    st.append(spark, refDf(b, 2), AsIs, lineage = "writer-b") // takes seg 2
    assert(st.segments == Seq(0L, 2L))
    val bIds = st.read(spark, Seq("rand")).collect()
      .filter(r => b.exists(_._2 == r.getFloat(1))).map(_.getLong(0)).sorted.toSeq
    assert(bIds == (100L until 140L), s"B's rows at $bIds")
    // A resumes into its claimed segment (same lineage) and commits now
    stA.append(spark, refDf(a, 2), AsIs, lineage = "writer-a")
    // committed order: seg 1 committed AFTER seg 2 → sorts after it
    assert(st.segments == Seq(0L, 2L, 1L), s"segments: ${st.segments}")
    assert(st.snapshot.nrows == 200)
    val rows = st.read(spark, Seq("rand")).collect().map(r => (r.getLong(0), r.getFloat(1)))
    // B's rows keep their ids; A's occupy the NEW tail [140, 200)
    val bAfter = rows.filter(r => b.exists(_._2 == r._2)).map(_._1).sorted.toSeq
    assert(bAfter == (100L until 140L), "B's committed row ids shifted")
    val aAfter = rows.filter(r => a.exists(_._2 == r._2)).map(_._1).sorted.toSeq
    assert(aAfter == (140L until 200L), s"A's rows at $aAfter")
    st.verify()
    st.dropStore()
  }

  test("a commit record without its marker is invisible until re-published") {
    // publication = the atomic .commit-<n> marker; a crash between the
    // commit record and the marker leaves the segment formally uncommitted
    val (st, _) = mkStore(100)
    val more = refData(50, seed = 99L)
    st.append(spark, refDf(more, 2), AsIs, lineage = "test:pub")
    assert(st.snapshot.nrows == 150)
    // simulate the crash window: drop seg 1's marker, keep _commit.bin
    val segsDir = s"${st.root}/${Format.SegmentsDir}"
    val markers = FsIO.list(segsDir).filter(_.startsWith(".commit-"))
    // v3 markers carry the segment in the NAME (atomic single-name publish)
    val seg1Marker = markers.find(m => ColumnStore.markerParts(segsDir, m)._2 == 1L).get
    FsIO.delete(s"$segsDir/$seg1Marker")
    Snapshot.publish(st.root, Change.Reshape)
    assert(st.snapshot.nrows == 100, "unmarkered commit must be invisible")
    // the same-lineage retry resumes the segment and re-publishes it
    st.append(spark, refDf(more, 2), AsIs, lineage = "test:pub")
    assert(st.segments.sorted == Seq(0L, 1L) && st.snapshot.nrows == 150)
    val rands = st.read(spark, Seq("rand")).collect().map(_.getFloat(1)).toSeq
    assert(rands.sorted == (refData(100).map(_._2) ++ more.map(_._2)).sorted,
      "re-published segment must contain each row exactly once")
    st.verify()
    st.dropStore()
  }

  test("payload-only .commit-<n> marker fails with unsupported graft format version") {
    val (st, _) = mkStore(100)
    // the marker older builds wrote: the segment lives in the payload
    val segsDir = s"${st.root}/${Format.SegmentsDir}"
    val w = new graft.codec.Bytes.Writer(); w.writeVar(0L)
    FsIO.writeAtomic(s"$segsDir/.commit-7", w.result())
    Snapshot.publish(st.root, Change.Append)
    assertUnsupported(s"$segsDir/.commit-7")(st.segments)
    st.dropStore()
  }

  test("vacuum and update verify copied chunk bytes against the manifest CRC") {
    // on the driver (the default bound) and in a job (a bound of 0 rows)
    Seq(Decode.driverBound.value, (0L, 0L)).foreach(bound => Decode.driverBound.withValue(bound) {
      val (st, _) = mkStore(400, chunkRows = 50, parts = 2)
      Mutate.update(spark, st, "rand", Array(5L), Array(0.5f: Any))
      val expected = st.read(spark).collect().sortBy(_.getLong(0)).map(_.toSeq).toSeq
      val seg = st.segments.head
      val m = st.snapshot.partManifests(seg).find(_.updateVersion > 0).get
      // flip one byte inside a chunk every vacuum of this partition copies:
      // an untouched chunk of the updated column
      val cm = m.chunks.filter(_.column == "rand").maxBy(_.rowStartLocal)
      val at = cm.offset + cm.nbytes / 2
      def flip(): Unit = {
        val raf = new java.io.RandomAccessFile(s"${Format.segDir(st.root, seg)}/${cm.file}", "rw")
        try {
          raf.seek(at)
          val b = raf.read()
          raf.seek(at)
          raf.write(b ^ 0x40)
        } finally raf.close()
      }
      flip()
      // a failed copy still publishes the store versions it would on
      // success: `published` of them (after a vacuum, around an update)
      def failsOnCrc(published: Int)(op: => Any): Unit = {
        val v0 = st.snapshot.version
        val e = intercept[Exception](op)
        val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(x => String.valueOf(x.getMessage))
        assert(msgs.exists(_.contains("chunk CRC mismatch")), e.toString)
        assert(st.snapshot.partManifest(seg, m.part).updateVersion == m.updateVersion,
          "a failed copy must not publish a new manifest")
        assert(st.snapshot.version == v0 + published)
      }
      failsOnCrc(1)(Mutate.vacuum(spark, st))
      // an update that rewrites the corrupted chunk fails the same way
      val off = st.snapshot.partOffsets.find(o => o._1 == seg && o._2 == m.part).get._3
      failsOnCrc(2)(Mutate.update(spark, st, "rand", Array(off + cm.rowStartLocal),
        Array(0.25f: Any)))
      // with the byte restored, a fresh handle reads every row as before: the
      // failed copies published nothing a reader follows
      flip()
      assert(ColumnStore.open(st.root).read(spark).collect().sortBy(_.getLong(0))
        .map(_.toSeq).toSeq == expected)
      st.dropStore()
    })
  }

  /** Every data, copy-on-write and generation file of `st` by its SHA-256,
    * every part manifest by its rows, update version and chunk list, then
    * the row count and every row.
    */
  private def storeState(st: ColumnStore): (Seq[(String, Any)], Long, Seq[Seq[Any]]) = {
    val snap = st.snapshot
    val files = snap.segments.flatMap { seg =>
      val dir = Format.segDir(st.root, seg)
      FsIO.list(dir).sorted.collect {
        case n if Format.partManifestVersion(n).isDefined =>
          val m = BinCodec.readPartManifest(FsIO.readAll(s"$dir/$n"), n)
          s"seg$seg/$n" -> ((m.nrows, m.updateVersion, m.chunks))
        case n if n.startsWith("p") && n.endsWith(".bin") =>
          s"seg$seg/$n" -> java.security.MessageDigest.getInstance("SHA-256")
            .digest(FsIO.readAll(s"$dir/$n")).toSeq
      }
    }
    (files, snap.nrows, st.read(spark).collect().sortBy(_.getLong(0)).map(_.toSeq).toSeq)
  }

  test("small mutations run no job and write exactly what their jobs write") {
    val data = refData(600)
    val extra = refData(608).drop(600)
    val local = spark.createDataFrame(extra).toDF("id", "rand", "scol")
    // not a local frame, but cut as Spark cuts the local one into tasks
    val sliced = refDf(extra, parts = math.min(extra.size, spark.sparkContext.defaultParallelism))
    // the same mutations at the default bound and at a bound of 0 rows,
    // which sends each one to a job; the state after each one, and the
    // graft jobs they ran
    def run(bound: (Long, Long), appended: DataFrame): (Seq[Any], Seq[String]) = {
      val st = ColumnStore.create(tmpDir("graft-paths"), ColumnStore.specFromSchema(schema,
        chunkRows = 50))
      st.append(spark, refDf(data), AsIs)
      val states = Seq.newBuilder[Any]
      def step(op: => Unit): Unit = {
        Decode.driverBound.withValue(bound)(op)
        states += storeState(st)
      }
      val jobs = jobsDuring {
        step(Mutate.update(spark, st, "rand", Array(3L, 77L, 401L), Array[Any](1.5f, 2.5f, 3.5f)))
        step(st.append(spark, appended, AsIs))
        st.addColumn(ColumnSpec("t", PType.STR.id, fill = Some("-")))
        step(Mutate.update(spark, st, "t", Array(5L, 590L, 603L), Array[Any]("a", "b", "c")))
        step(Mutate.vacuum(spark, st))
      }.filter(_.startsWith("graft: "))
      st.dropStore()
      (states.result(), jobs)
    }
    val (onDriver, driverJobs) = run(Decode.driverBound.value, local)
    assert(driverJobs.isEmpty, s"jobs at the default bound: $driverJobs")
    // a bound of 0 rows; and one the rows fit but the bytes do not, which
    // sends the local frame to the planned job too
    val rowsOnly = (Decode.driverBound.value._1, 0L)
    for ((bound, appended) <- Seq(((0L, 0L), local), ((0L, 0L), sliced), (rowsOnly, local))) {
      val (inJobs, jobs) = run(bound, appended)
      assert(jobs == Seq("graft: update rand", "graft: append seg1", "graft: update t",
        "graft: vacuum"), jobs.toString)
      onDriver.zip(inJobs).zipWithIndex.foreach { case ((a, b), i) =>
        val same = a == b
        assert(same, s"step $i: the two paths left different files, manifests or rows")
      }
    }
  }

  test("a local ByKey append runs the planned job and writes what an RDD frame's does") {
    // 7 distinct keys over 40 rows: equal keys keep their input order
    val data = new scala.util.Random(5).shuffle(refData(40).map { case (i, r, _) => (i, r, s"s${i % 7}") })
    val local = spark.createDataFrame(data).toDF("id", "rand", "scol")
    val states = Seq(local, refDf(data, parts = 3)).map { df =>
      val st = ColumnStore.create(tmpDir("graft-bykey"), ColumnStore.specFromSchema(schema,
        chunkRows = 4))
      val jobs = jobsDuring(st.append(spark, df, ByKey("scol", 3)))
      val state = storeState(st)
      st.dropStore()
      (state, jobs)
    }
    // every job either append runs, its range sample included, carries the
    // append's description
    assert(states.forall(s => s._2.nonEmpty && s._2.forall(_ == "graft: append seg0")),
      states.map(_._2).toString)
    val same = states(0)._1 == states(1)._1
    assert(same, "the two appends left different files, manifests or rows")
    assert(states(0)._1._3.map(_(3)) == data.map(_._3).sorted)
  }

  test("an update's new values count toward the driver bound") {
    val (st, _) = mkStore(200, chunkRows = 50, parts = 2)
    // one 50-row string chunk rewritten, but with a 100 KB value: past a
    // 64 KB bound, so it runs in a job; within the default bound, on the driver
    val big = "x" * 100000
    val jobs = jobsDuring(Decode.driverBound.withValue((Decode.driverBound.value._1, 64L << 10))(
      Mutate.update(spark, st, "scol", Array(7L), Array(big: Any))))
    assert(jobs == Seq("graft: update scol"), jobs.toString)
    assert(jobsDuring(Mutate.update(spark, st, "scol", Array(8L), Array(big: Any))).isEmpty)
    assert(st.read(spark).collect().sortBy(_.getLong(0)).slice(7, 9).map(_.getString(3)).toSeq ==
      Seq(big, big))
    st.dropStore()
  }

  test("failed anonymous append's orphan is not absorbed by a later append") {
    val (st, _) = mkStore(100)
    // an append that dies AFTER some partitions already checkpointed their
    // manifests (partition 0 completes, partition 1 throws)
    val poison = refDf(refData(50, seed = 77L), 2).as(
      org.apache.spark.sql.Encoders.row(schema)).map { r =>
        if (r.getLong(0) == 40L &&
          org.apache.spark.TaskContext.getPartitionId() == 1) {
          Thread.sleep(300) // let partition 0 finish + checkpoint first
          throw new RuntimeException("simulated executor failure")
        }
        r
      }(org.apache.spark.sql.Encoders.row(schema))
    intercept[Exception] { st.append(spark, poison.toDF(), AsIs) }
    assert(st.snapshot.nrows == 100) // orphan invisible
    // an unrelated append must NOT resume into the failed attempt's segment
    // (the old orphan-reuse heuristic would have absorbed its rows)
    val fresh = refData(30, seed = 88L)
    st.append(spark, refDf(fresh, 2), AsIs)
    assert(st.snapshot.nrows == 130, s"nrows ${st.snapshot.nrows}: orphan rows leaked in")
    val rands = st.read(spark, Seq("rand")).collect().map(_.getFloat(1)).toSeq
    assert(rands.sorted == (refData(100).map(_._2) ++ fresh.map(_._2)).sorted)
    st.verify()
    st.dropStore()
  }

  test("new column backfilled with fill value (test_create.py:150-176)") {
    val (st, _) = mkStore(100)
    st.addColumn(ColumnSpec("extra", PType.F32.id, fill = Some("9.5")))
    st.addColumn(ColumnSpec("tag", PType.STR.id, fill = Some("-")))
    val out = st.read(spark, Seq("extra", "tag")).collect()
    assert(out.forall(_.getFloat(1) == 9.5f))
    assert(out.forall(_.getString(2) == "-"))
    st.dropStore()
  }

  test("planning does O(segments) metadata ops over a 64-partition store") {
    val (st, _) = mkStore(n = 6400, chunkRows = 25, parts = 64)
    // a JVM that never read the store, like a new reader process
    Snapshot.forget(st.root)
    val cold = ColumnStore.open(st.root)
    FsIO.metaOps.set(0L)
    val (units, _) = cold.planUnits(Seq("id"), SelAll)
    assert(units.size == 64)
    val opsFirst = FsIO.metaOps.get()
    // 1 segment: version listing + version entry + schema + segments
    // listing + commit + seg listing + consolidated manifest ≈ 7 ops;
    // definitely not 64+ (per-partition)
    assert(opsFirst <= 10, s"cold planning cost $opsFirst metadata ops (O(partitions)?)")
    // warm re-plan: only the version listing should hit the FS
    def warmOps(store: ColumnStore): Long = {
      FsIO.metaOps.set(0L)
      store.planUnits(Seq("id"), SelIds(Array(5L, 6300L), Array(0L, 1L)))
      FsIO.metaOps.get()
    }
    val opsWarm = warmOps(cold)
    assert(opsWarm <= 3, s"warm planning cost $opsWarm metadata ops")
    // and it does not grow with the segment count: 16 segments cost the same
    val (many, _) = mkStore(n = 400, chunkRows = 25, parts = 4)
    (1 until 16).foreach(i => many.append(spark, refDf(refData(400, seed = i), 4), AsIs))
    assert(many.segments.size == 16)
    val fresh = ColumnStore.open(many.root)
    assert(warmOps(fresh) == opsWarm, "warm re-plan cost grew with the segment count")
    // a new handle on either store plans a DSv2 load at the same cost
    def loadOps(root: String): Long = {
      spark.read.format("graft").load(root).where("id = 5").queryExecution.executedPlan
      FsIO.metaOps.set(0L)
      spark.read.format("graft").load(root).where("id = 5").queryExecution.executedPlan
      FsIO.metaOps.get()
    }
    assert(loadOps(st.root) == loadOps(many.root), "warm DSv2 load cost grew with segments")
    st.dropStore(); many.dropStore()
  }

  test("a snapshot after an append reads only the new segment's metadata") {
    def appendOps(segs: Int): (Long, ColumnStore) = {
      val (st, _) = mkStore(n = 400, chunkRows = 25, parts = 4)
      (1 until segs).foreach(i => st.append(spark, refDf(refData(400, seed = i), 4), AsIs))
      st.snapshot
      st.append(spark, refDf(refData(100, seed = 99L), 2), AsIs)
      FsIO.metaOps.set(0L)
      val snap = st.snapshot
      val ops = FsIO.metaOps.get()
      // the same metadata a reader that never held the store loads
      Snapshot.forget(st.root)
      val full = st.snapshot
      assert(snap.version == full.version && snap.spec == full.spec)
      assert(snap.segments == full.segments && snap.commits == full.commits)
      assert(snap.partManifests == full.partManifests && snap.partColStats == full.partColStats)
      assert(snap.colRawBytes == full.colRawBytes && snap.partOffsets == full.partOffsets)
      assert(snap.nrows == full.nrows && full.nrows == 400L * segs + 100)
      (ops, st)
    }
    val (one, a) = appendOps(1)
    val (many, b) = appendOps(16)
    assert(many == one, s"load after an append: $one metadata ops at 2 segments, $many at 17")
    a.dropStore(); b.dropStore()
  }

  test("pruned SelIds read after scatter update sees new values (cache invalidation)") {
    val (st, data) = mkStore(n = 500, chunkRows = 20)
    st.read(spark, Seq("id"), SelIds(Array(3L), Array(0L))).collect() // warm cache
    Mutate.update(spark, st, "id", Array(3L), Array[Any](9999L))
    val out = st.read(spark, Seq("id"), SelIds(Array(3L), Array(0L))).collect()
    assert(out(0).getLong(2) == 9999L, "stale manifest cache served the old chunk")
    st.dropStore()
  }

  test("per-column compression + chunksize config (schema.py:264-325)") {
    val root = tmpDir("graft-percol")
    val data = refData(4000)
    // scol pinned uncompressed; rand pinned zstd:6; id auto with its own
    // tiny 100-row chunks
    val st = ColumnStore.create(root, TableSpec(Seq(
      ColumnSpec("id", PType.I64.id, chunkRows = 100),
      ColumnSpec("rand", PType.F32.id, compression = Some("zstd:6")),
      ColumnSpec("scol", PType.STR.id, compression = Some("none")))))
    st.append(spark, refDf(data, 2), AsIs)
    // round trip intact
    val out = st.read(spark).collect().sortBy(_.getLong(0))
    assert(out.length == data.length)
    out.zip(data).foreach { case (row, (id, rand, scol)) =>
      assert(row.getLong(1) == id && row.getFloat(2) == rand && row.getString(3) == scol)
    }
    // manifests reflect the config
    val m = st.snapshot.partManifest(0L, 0)
    val byCol = m.chunks.groupBy(_.column)
    assert(byCol("scol").forall(c => c.codec == CodecId.Plain && c.outer == 0),
      "pinned 'none' column must store plain, no outer zstd")
    assert(byCol("rand").forall(c => c.codec == CodecId.Plain && c.outer == 1),
      "pinned 'zstd' column must store plain + outer zstd")
    assert(byCol("id").forall(_.nrows <= 100), "per-column chunkRows override")
    // independent chunk grids: id has ~20x more chunks than the others
    assert(byCol("id").size > byCol("rand").size)
    // unknown compression rejected
    intercept[IllegalArgumentException] {
      CodecConfig.forColumn(Some("lz77"))
    }
    st.dropStore()
  }

  test("schema v1 fails with unsupported graft format version") {
    val root = tmpDir("graft-v1")
    ColumnStore.create(root, ColumnStore.specFromSchema(schema))
    // the v1 layout: no per-column compression/chunking fields
    val w = new graft.codec.Bytes.Writer()
    def wStr(s: String): Unit = {
      val b = s.getBytes("UTF-8"); w.writeVar(b.length.toLong); w.writeBytes(b)
    }
    w.writeVar(1L) // formatVersion 1
    w.writeVar(1L << 20); w.writeVar(0L); w.writeVar(1L)
    wStr("x"); w.writeVar(PType.I64.id.toLong); w.writeVar(0L)
    w.writeByte(0); w.writeVar(0L)
    FsIO.writeAtomic(s"$root/${Format.SchemaFile}", w.result())
    Snapshot.forget(root) // opened by a process that never read the store
    assertUnsupported(s"$root/${Format.SchemaFile}")(ColumnStore.open(root).snapshot.spec)
    FsIO.delete(root, recursive = true)
  }

  test("a store of the previous format fails with unsupported graft format version") {
    val root = tmpDir("graft-v2")
    val st = ColumnStore.create(root, ColumnStore.specFromSchema(schema))
    st.append(spark, refDf(refData(50)), AsIs)
    // the previous layout: schema v2 and no store version entries
    val b = BinCodec.writeTableSpec(st.snapshot.spec)
    val w = new graft.codec.Bytes.Writer()
    w.writeVar(2L)
    w.writeBytes(java.util.Arrays.copyOfRange(b, 1, b.length)) // FormatVersion is one varint byte
    FsIO.writeAtomic(s"$root/${Format.SchemaFile}", w.result())
    FsIO.delete(s"$root/${Format.VersionDir}", recursive = true)
    assertUnsupported(s"$root/${Format.SchemaFile}")(ColumnStore.open(root).snapshot.nrows)
    FsIO.delete(root, recursive = true)
  }

  test("id gathers and negative steps read list, string and int columns (TokenGen)") {
    val n = 600L
    val c = graft.api.Columns.fromDataFrame(spark, tmpDir("graft-tokread"),
      graft.gen.TokenGen.dataset(spark, n, 3).toDF(), ByKey("doc_id", 3), chunkRows = 40)
    // ByKey(doc_id): row id i holds generator row i
    def check(rows: graft.api.Rows, expect: Seq[Long]): Unit = {
      val out = c.read(Seq("tokens", "doc_id", "n_tok"), rows)
        .collect().sortBy(_.getLong(1)) // _pos = request order
      assert(out.map(_.getLong(0)).toSeq == expect)
      out.foreach { r =>
        val g = graft.gen.TokenGen.row(42L, r.getLong(0))
        assert(r.getSeq[Int](2).toArray.sameElements(g.tokens), s"tokens of ${g.doc_id}")
        assert(r.getString(3) == g.doc_id)
        assert(r.getInt(4) == g.n_tok, s"n_tok of ${g.doc_id}")
      }
    }
    // repeated and descending ids; in chunk [40, 80) the five ids 43..47,
    // with a repeat and a gap, span five rows — not a contiguous run
    val ids = Seq(47L, 45L, 44L, 44L, 43L, 599L, 7L, 7L, 0L, 320L, 319L, 39L, 7L)
    check(graft.api.RowList(ids), ids)
    check(graft.api.Slice(590, 10, -7), 590L to 11L by -7L)
    check(graft.api.Slice(step = -1), (n - 1) to 0L by -1L)
    c.dropStore()
  }

  test("meta entries: arbitrary nested JSON, write/read/update (S10)") {
    val (st, _) = mkStore(50)
    // nested dict like tests/test_access.py {'fruits': {...}}
    val fruits = JObj("fruits" -> JObj(
      "apples" -> Json.num(3L),
      "pears" -> Json.arr(JStr("bosc"), JStr("anjou")),
      "ripe" -> JBool(true),
      "weight" -> Json.num(1.25)),
      "name" -> JStr("test"), "x" -> Json.num(1L))
    st.metaWrite("info", fruits)
    assert(st.metaRead("info") == fruits)
    assert(st.metaRead("info")("fruits")("apples") == Json.num(3L))
    // dict.update semantics: top-level keys merge (metafile.py:85-99)
    st.metaUpdate("info", JObj("x" -> Json.num(2L), "y" -> JNull))
    val got = st.metaRead("info").asInstanceOf[JObj]
    assert(got("x") == Json.num(2L) && got("y") == JNull && got("name") == JStr("test"))
    assert(got("fruits")("pears") == Json.arr(JStr("bosc"), JStr("anjou")))
    assert(st.metaNames == Seq("info"))
    st.metaDelete("info")
    assert(st.metaNames.isEmpty)
    st.dropStore()
  }

  test("token table round trip: array<int32> bit-identical (flagship F1)") {
    val root = tmpDir("graft-tok")
    val tokSchema = StructType(Seq(
      StructField("doc_id", StringType, nullable = false),
      StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = false),
      StructField("n_tok", IntegerType, nullable = false),
      StructField("source", StringType, nullable = false)))
    val rnd = new java.util.Random(42)
    val srcs = Array("web", "code", "books", "synth")
    val data = (0 until 2000).map { i =>
      val n = 8 + rnd.nextInt(100)
      val toks = Array.fill(n)(rnd.nextInt(50000))
      (f"doc$i%012d", toks, n, srcs(rnd.nextInt(4)))
    }
    val rows = data.map { case (d, t, n, s) => Row(d, t.toSeq, n, s) }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), tokSchema)
    val st = ColumnStore.create(root, ColumnStore.specFromSchema(tokSchema, chunkRows = 128))
    st.append(spark, df, ByKey("doc_id", 4), lineage = "synth:f1")
    val out = st.read(spark).collect().sortBy(_.getLong(0))
    assert(out.length == data.length)
    // ByKey(doc_id): row ids follow doc_id order == generation order here
    out.zip(data).foreach { case (row, (d, t, n, s)) =>
      assert(row.getString(1) == d)
      assert(row.getSeq[Int](2).toArray.sameElements(t), s"tokens of $d")
      assert(row.getInt(3) == n)
      assert(row.getString(4) == s)
    }
    st.dropStore()
  }

  test("every writer's chunks verify, with filters right after them holding every value") {
    // ~256 raw bytes a chunk: several chunks per partition, and the
    // backfilled column's grid is sized from its sampled rows
    val data = refData(1200)
    val st = ColumnStore.create(tmpDir("graft-writers"),
      ColumnStore.specFromSchema(schema, targetChunkBytes = 256))
    st.append(spark, refDf(data, parts = 2), AsIs)
    val c = new graft.api.Columns(spark, st)
    val want = scala.collection.mutable.Map[String, Array[Any]](
      "id" -> data.map(_._1: Any).toArray,
      "rand" -> data.map(_._2: Any).toArray,
      "scol" -> data.map(_._3: Any).toArray)
    def values(v: ColVec): Seq[Any] = v match {
      case LongVec(a) => a.toSeq
      case FloatVec(a) => a.toSeq
      case StrVec(a) => a.toSeq
      case Utf8Vec(b) => b.map(new String(_, java.nio.charset.StandardCharsets.UTF_8)).toSeq
    }
    def hash(v: Any): Long = v match {
      case l: Long => MemberFilter.hashLong(l)
      case f: Float => MemberFilter.hashDouble(f.toDouble)
      case s: String => MemberFilter.hashString(s)
    }
    def check(writer: String): Unit = {
      val snap = st.snapshot
      var chunks = 0
      for ((seg, part, off, _) <- snap.partOffsets; cm <- snap.partManifest(seg, part).chunks) {
        val file = s"${Format.segDir(st.root, seg)}/${cm.file}"
        val blob = FsIO.readRange(file, cm.offset, cm.nbytes.toInt)
        Decode.verifyChunk(cm, blob)
        val got = values(Chunk.decode(blob))
        val at = (off + cm.rowStartLocal).toInt
        assert(got == want(cm.column).slice(at, at + cm.nrows).toSeq,
          s"$writer: ${cm.column} chunk ${cm.chunkIdx} of seg$seg p$part")
        // long, float and string chunks always get a filter
        assert(cm.filterKind == 1 && cm.filterOffset == cm.offset + cm.nbytes,
          s"$writer: ${cm.column} chunk ${cm.chunkIdx} filter at ${cm.filterOffset}")
        val filter = FsIO.readRange(file, cm.filterOffset, cm.filterBytes.toInt)
        got.foreach(v => assert(MemberFilter.mightContainAny(filter, Array(hash(v))),
          s"$writer: ${cm.column} chunk ${cm.chunkIdx} filter misses $v"))
        chunks += 1
      }
      assert(chunks > snap.partOffsets.size * 3, s"$writer: only $chunks chunks")
    }
    check("encode")
    c("scol").update(Seq(3L, 250L, 1199L), Seq("x", "yy", "zzz"))
    c("id").update(Seq(10L), Seq(-10L))
    want("scol")(3) = "x"; want("scol")(250) = "yy"; want("scol")(1199) = "zzz"
    want("id")(10) = -10L
    check("copy-on-write update")
    c.addColumn(ColumnSpec("t", PType.STR.id, fill = Some("fill")))
    c("t").update(Seq(1L, 800L), Seq("a much longer value than the fill", "b"))
    want("t") = Array.fill[Any](1200)("fill")
    want("t")(1) = "a much longer value than the fill"; want("t")(800) = "b"
    assert(st.snapshot.partManifests.values.flatten.count(_.chunks.exists(_.column == "t")) == 2)
    check("first update of a backfilled column")
    c.vacuum()
    check("vacuum")
    st.dropStore()
  }
}
