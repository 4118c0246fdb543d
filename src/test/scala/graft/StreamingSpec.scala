package graft

import graft.api.Columns
import graft.sources.GraftStreamingWrite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  import SparkTestBase._

  test("watermarked windowed token counts + first-seen streaming dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{StreamDoc, StreamingStats}
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val mem = MemoryStream[StreamDoc]

    // windowed counts (update mode -> memory sink)
    val win = StreamingStats.windowedTokenCounts(mem.toDF(), "10 seconds", "30 seconds")
    val q1 = win.writeStream.outputMode("update").format("memory")
      .queryName("win_counts").start()
    // dedup on fingerprint
    val dd = StreamingStats.dedupFirstSeen(mem.toDS())
    val q2 = dd.writeStream.outputMode("update").format("memory")
      .queryName("dedup_docs").start()

    mem.addData(
      StreamDoc(1, 100L, ts(1), "web", 10),
      StreamDoc(2, 200L, ts(3), "web", 20),
      StreamDoc(3, 100L, ts(5), "code", 30), // dup fingerprint of doc 1
      StreamDoc(4, 300L, ts(12), "web", 40))
    q1.processAllAvailable(); q2.processAllAvailable()
    mem.addData(
      StreamDoc(5, 200L, ts(14), "web", 50), // dup across batches
      StreamDoc(6, 400L, ts(15), "code", 60))
    q1.processAllAvailable(); q2.processAllAvailable()
    q1.stop(); q2.stop()

    val wins = spark.table("win_counts")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getLong(3)))
      .groupBy(x => (x._1, x._2)).map(_._2.last) // update mode: last emit wins
      .toSet
    val w0 = 1700000000000L // window [0,10)
    val w1 = 1700000010000L // window [10,20)
    assert(wins == Set(
      (w0, "web", 2L, 30L), (w0, "code", 1L, 30L),
      (w1, "web", 2L, 90L), (w1, "code", 1L, 60L)), s"got $wins")

    val kept = spark.table("dedup_docs").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 2L, 4L, 6L), s"dups not dropped: $kept")
  }

  test("streaming ingest: micro-batches append segments exactly once") {
    // through the native writeStream.format("graft") sink; each query id
    // commits its own epoch 0, and compaction keeps data, row ids and index
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val root = tmpDir("graft-nsink-epochs") + "/store"
    val q = mem.toDF().toDF("id", "s").writeStream.format("graft")
      .option("checkpointLocation", tmpDir("graft-nsink-epochs-ckpt"))
      .outputMode("append").start(root)
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    // the lineage key is (query id, epoch id): another query's epoch 0 is
    // not the streamed query's epoch 0 and must append, not be swallowed
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType, nullable = false)))
    def commitEpoch0(queryId: String, id: Long, v: String): Unit = {
      val sw = new GraftStreamingWrite(root, schema, queryId)
      val w = sw.createStreamingWriterFactory(null).createWriter(0, 0L, 0L)
      w.write(new GenericInternalRow(Array[Any](id, UTF8String.fromString(v))))
      sw.commit(0L, Array(w.commit()))
    }
    commitEpoch0("qa", 1L, "a")
    commitEpoch0("qb", 4L, "d")
    val c = Columns.open(spark, root)
    assert(c.nrows == 5)
    val lineages = c.store.segments.map(s => c.store.snapshot.commits(s).lineage)
    assert(lineages.contains("stream-write:qa:0") && lineages.contains("stream-write:qb:0"),
      s"lineages: $lineages")
    assert(lineages.count(_.endsWith(":0")) == 3, s"lineages: $lineages")

    // compaction: many epoch segments -> one, data + row ids intact
    c("id").createIndex()
    val before = c.read().collect().map(_.toSeq).sortBy(_(0).asInstanceOf[Long])
    assert(c.store.segments.size > 1)
    c.compactSegments()
    assert(c.store.segments == Seq(0L), s"segments: ${c.store.segments}")
    val after = c.read().collect().map(_.toSeq).sortBy(_(0).asInstanceOf[Long])
    assert(after.toSeq == before.toSeq)
    // index still valid (row ids preserved by the ordered rewrite)
    assert(graft.index.RowIds.collectSorted(c("id") === 1L).length == 2)
    c.dropStore()
  }

  test("native streaming SINK: writeStream.format(graft), exactly-once with restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val root = tmpDir("graft-nsink") + "/store"
    val ckpt = tmpDir("graft-nsink-ckpt")
    def start() = mem.toDF().toDF("id", "s").writeStream
      .format("graft").option("checkpointLocation", ckpt)
      .outputMode("append").start(root)
    val q = start()
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val c = Columns.open(spark, root)
    assert(c.nrows == 3)
    // each epoch committed exactly one lineage-tagged segment
    val lineages = c.store.segments.map(s => c.store.snapshot.commits(s).lineage)
    assert(lineages.forall(_.startsWith("stream-write:")), s"lineages: $lineages")
    assert(lineages.distinct.size == lineages.size)
    // RESTART on the same checkpoint: nothing re-appends, new data does
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(Columns.open(spark, root).nrows == 3, "restart re-committed an epoch")
      mem.addData((4L, "d"))
      q2.processAllAvailable()
    } finally q2.stop()
    val out = Columns.open(spark, root).read().collect()
      .map(r => (r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    assert(out == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // a replayed COMMIT of an already-visible epoch is dropped whole
    val c2 = Columns.open(spark, root)
    val sw = new graft.sources.GraftStreamingWrite(root,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType, nullable = false))), "qx")
    sw.commit(7L, Array.empty) // epoch 7 of query qx: commits an EMPTY segment
    val n7 = Columns.open(spark, root).nrows
    sw.commit(7L, Array.empty) // replay: lineage already committed → no-op
    assert(Columns.open(spark, root).nrows == n7)
    assert(Columns.open(spark, root).store.segments
      .count(s => Columns.open(spark, root).store.snapshot.commits(s).lineage
        == "stream-write:qx:7") == 1, "replayed epoch committed twice")
    // no staging/garbage left behind
    assert(!graft.store.FsIO.list(root).exists(_.startsWith(".stream-epoch-")))
    // truncate (Complete mode) is rejected: the store is an append history
    intercept[IllegalArgumentException] {
      new graft.sources.GraftWrite(root, mem.toDF().toDF("id", "s").schema,
        truncate = true, "q").toStreaming
    }
    c2.dropStore()
  }

  test("streaming sink: a commit crash mid-move converges on the retry") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType, nullable = false)))
    val root = tmpDir("graft-sink-crash") + "/store"
    val sw = new graft.sources.GraftStreamingWrite(root, schema, "qc")
    val factory = sw.createStreamingWriterFactory(null) // info unused
    val w = factory.createWriter(0, 0L, 7L)
    (0 until 40).foreach(i => w.write(new GenericInternalRow(
      Array[Any](i.toLong, UTF8String.fromString(s"v$i")))))
    val msg = w.commit()
    // simulate the crash window: the driver CLAIMED the segment under the
    // epoch lineage and moved one staged file, then died before publishing
    val c = Columns.open(spark, root)
    val seg = c.store.claimSegment("stream-write:qc:7")
    val segDir = graft.store.Format.segDir(root, seg)
    graft.store.FsIO.mkdirs(segDir)
    val staging = s"$root/.stream-epoch-qc-7"
    val one = graft.store.FsIO.list(staging).filterNot(_.contains(".tmp-")).head
    graft.store.FsIO.rename(s"$staging/$one", s"$segDir/$one")
    assert(Columns.open(spark, root).nrows == 0, "unpublished segment visible")
    // the replayed epoch re-runs its task (staging re-rendered) + commit
    val w2 = factory.createWriter(0, 1L, 7L)
    (0 until 40).foreach(i => w2.write(new GenericInternalRow(
      Array[Any](i.toLong, UTF8String.fromString(s"v$i")))))
    sw.commit(7L, Array(w2.commit()))
    val after = Columns.open(spark, root)
    assert(after.nrows == 40, s"retry must publish exactly once, got ${after.nrows}")
    assert(after.store.segments.size == 1)
    assert(after.store.snapshot.commits(after.store.segments.head).lineage
      == "stream-write:qc:7")
    val rows = after.read().collect().map(r => (r.getLong(1), r.getString(2))).sorted
    assert(rows.toSeq == (0 until 40).map(i => (i.toLong, s"v$i")))
    // and a further replay of the same epoch is a no-op
    sw.commit(7L, Array.empty)
    assert(Columns.open(spark, root).nrows == 40)
    after.dropStore()
  }

  test("graft streaming SOURCE tails appended segments exactly once") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType, nullable = false)))
    def df(from: Long, n: Long) = spark.createDataFrame(
      spark.sparkContext.parallelize((from until from + n).map(Row(_)), 2), schema)
    val root = tmpDir("graft-tail")
    val c = Columns.fromDataFrame(spark, root, df(0, 100))
    val q = spark.readStream.format("graft").load(root)
      .writeStream.format("memory").queryName("graft_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_tail").count() == 100)
      // new segments become new batches — no rescans, no duplicates
      c.append(df(1000, 50))
      q.processAllAvailable()
      c.append(df(2000, 25))
      q.processAllAvailable()
      val got = spark.table("graft_tail").collect().map(_.getLong(0)).sorted.toSeq
      assert(got.length == 175, s"expected 175 rows once each, got ${got.length}")
      assert(got == ((0L until 100L) ++ (1000L until 1050L) ++
        (2000L until 2025L)).sorted)
    } finally q.stop()

    // checkpoint restart: a NEW query instance on the same checkpoint must
    // resume from the committed offset — no re-emission of old rows (file
    // sink: the memory sink does not support checkpoint recovery)
    val ckpt = tmpDir("graft-tail-ckpt")
    val outDir = tmpDir("graft-tail-out")
    def start() = spark.readStream.format("graft").load(root)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val qa = start()
    try { qa.processAllAvailable() } finally qa.stop()
    assert(spark.read.parquet(outDir).count() == 175)
    c.append(df(3000, 10))
    val qb = start() // restart from the checkpoint
    try {
      qb.processAllAvailable()
      val ids = spark.read.parquet(outDir).collect().map(_.getLong(0)).toSeq
      assert(ids.length == 185, s"expected 185 rows after restart, got ${ids.length}")
      assert(ids.distinct.length == 185, "restart re-emitted committed rows")
    } finally qb.stop()

    // a value predicate on the stream stays exact (residual Filter — Spark
    // does not push filters into streaming scans; _row_id is batch-only:
    // streaming never calls pruneColumns, so the metadata column cannot be
    // added to a stream's output)
    val qf = spark.readStream.format("graft").load(root)
      .where(org.apache.spark.sql.functions.col("id") < 1500L)
      .writeStream.format("memory").queryName("graft_tail_filtered")
      .outputMode("append").start()
    try {
      qf.processAllAvailable()
      assert(spark.table("graft_tail_filtered").count() == 150,
        "residual value filter inexact on the stream")
    } finally qf.stop()

    // the CONSUMED-filter path directly: were a Spark version to push
    // _row_id filters into a streaming scan, the batch range must
    // intersect them exactly (rows outside still advance the offset)
    {
      import org.apache.spark.sql.types._
      val stream = new graft.sources.GraftMicroBatchStream(root,
        StructType(Seq(StructField("id", LongType, nullable = false))), -1L,
        Array(org.apache.spark.sql.sources.LessThan("_row_id", 120L)))
      val parts = stream.planInputPartitions(
        graft.sources.GraftStreamOffset(100L), graft.sources.GraftStreamOffset(175L))
      val covered = parts.map(_.asInstanceOf[graft.sources.GraftInputPartition].unit)
        .map { u =>
          val span = (u.globalOffset, u.globalOffset + u.partRows)
          u.sel match {
            case graft.store.SelRange(a, b, 1L) =>
              math.max(0L, math.min(b, span._2) - math.max(a, span._1))
            case graft.store.SelRanges(as, bs) =>
              as.indices.map(i => math.max(0L,
                math.min(bs(i), span._2) - math.max(as(i), span._1))).sum
            case other => fail(s"unexpected selection $other")
          }
        }.sum
      assert(covered == 20L, s"batch [100,175) ∩ _row_id<120 must cover 20 rows, got $covered")
    }

    // rate limit: maxRowsPerTrigger caps each batch, total stays exact
    val q2 = spark.readStream.format("graft").option("maxRowsPerTrigger", "40")
      .load(root)
      .writeStream.format("memory").queryName("graft_tail_rate")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("graft_tail_rate").count() == 185)
      val batches = q2.recentProgress.filter(_.numInputRows > 0)
      assert(batches.forall(_.numInputRows <= 40),
        s"batch sizes: ${batches.map(_.numInputRows).toSeq}")
      assert(batches.length >= 5, s"expected >=5 capped batches, got ${batches.length}")
    } finally q2.stop()
    c.dropStore()
  }
}
