package graft

import graft.api._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 connector: spark.read.format("graft") with Catalyst column pruning
  * and filter pushdown against the manifest zone map.
  */
class DataSourceSpec extends AnyFunSuite {
  import SparkTestBase._

  private def mk(n: Int = 1000): Columns = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("x", DoubleType, nullable = false),
      StructField("s", StringType, nullable = false)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until n).map(i => Row(i.toLong, i * 0.5, s"s$i")), 4), schema)
    Columns.fromDataFrame(spark, tmpDir("graft-dsv2"), df, chunkRows = 50)
  }

  test("format(\"graft\") round trip with schema") {
    val c = mk()
    val df = spark.read.format("graft").load(c.root)
    // _row_id is a METADATA column (like Iceberg's _pos): not in the table
    // schema, but selectable and filterable by name
    assert(df.schema.fieldNames.toSeq == Seq("id", "x", "s"))
    assert(df.count() == 1000)
    val row = df.where(col("id") === 123L).collect()
    assert(row.length == 1 && row(0).getString(2) == "s123")
    val withRid = df.select(col("_row_id"), col("id")).where(col("id") === 7L).collect()
    assert(withRid.length == 1 && withRid(0).getLong(0) == 7L)
    c.dropStore()
  }

  test("column pruning reaches the scan (ReadSchema)") {
    val c = mk()
    val df = spark.read.format("graft").load(c.root).select("s")
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("id,"), s"plan reads pruned columns:\n$physical")
    assert(df.collect().length == 1000)
    c.dropStore()
  }

  test("zone-map filter pushdown prunes chunks, results exact") {
    val c = mk(2000)
    val df = spark.read.format("graft").load(c.root)
    // value predicate on a stats-bearing column: id is monotone so the
    // zone map prunes all but ~1 chunk per boundary
    val out = df.where(col("id") >= 900L && col("id") < 950L)
      .select("id", "x").collect().sortBy(_.getLong(0))
    assert(out.length == 50)
    assert(out.head.getLong(0) == 900L && out.last.getLong(0) == 949L)
    assert(out.forall(r => r.getDouble(1) == r.getLong(0) * 0.5))
    // _row_id range pushdown
    val byRid = df.where(col("_row_id") < 10L).collect()
    assert(byRid.length == 10)
    // pushed filters visible in the scan description
    val desc = df.where(col("id") > 100L).queryExecution.executedPlan.toString
    assert(desc.contains("GreaterThan(id,100)") || desc.contains("PushedFilters"),
      s"no pushdown evidence in plan:\n$desc")
    c.dropStore()
  }

  test("pruning is best-effort: residual filters still applied exactly") {
    val c = mk(500)
    val df = spark.read.format("graft").load(c.root)
    // predicate matching nothing inside surviving chunks
    assert(df.where(col("id") === 100000L).count() == 0)
    // mixed prunable + non-prunable (string) filter
    val out = df.where(col("id") < 100L && col("s") === "s42").collect()
    assert(out.length == 1 && out(0).getLong(0) == 42L)
    c.dropStore()
  }

  test("ordered scan: index order, no Sort node; stale index falls back exactly") {
    // Spark's own EnsureRequirements/RemoveRedundantSorts drop the Sort over
    // the ordered node, so the shapes hold with adaptive execution on or off
    Seq(true, false).foreach(aqe => withAqe(aqe)(orderedScanShapes(s"aqe=$aqe")))
  }

  private def withAqe[T](on: Boolean)(body: => T): T = {
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", on.toString)
    try body finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  private def orderedScanShapes(label: String): Unit = {
    // UNCLUSTERED indexed column (a permutation), so emitted order can only
    // come from the index — disk order would fail the monotonicity check
    val n = 2000
    val schema = StructType(Seq(
      StructField("v", LongType, nullable = false),
      StructField("s", StringType, nullable = false)))
    val df0 = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until n).map(i => Row((i.toLong * 37) % n, s"s$i")), 4), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-ord"), df0, chunkRows = 64)
    c("v").createIndex()
    def ordered(dir: String) = spark.read.format("graft").option("ordered", dir).load(c.root)
    val df = ordered("v").orderBy("v")
    val got = df.collect()
    // FINAL plan: the ordered node satisfies the Sort, no Exchange inserted
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftOrderedScan"), s"$label: ordered scan not planned:\n$plan")
    assert(!plan.contains("Sort ["), s"$label: ordered scan still plans a Sort:\n$plan")
    assert(!plan.contains("Exchange"), s"$label: ordered scan still shuffles:\n$plan")
    assert(got.length == n)
    assert(got.map(_.getLong(0)).toSeq == (0L until n.toLong),
      s"$label: rows not in index value order")
    // (v, s) pairs intact → the batched scatter-back aligned every column
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSet ==
      (0 until n).map(i => ((i.toLong * 37) % n, s"s$i")).toSet)
    // DESC: reversed file/row-group walk, no Sort or Exchange either
    val ddf = ordered("v desc").orderBy(col("v").desc)
    val dgot = ddf.collect()
    val dplan = ddf.queryExecution.executedPlan.toString
    assert(!dplan.contains("Sort [") && !dplan.contains("Exchange"),
      s"$label: desc ordered scan still sorts/shuffles:\n$dplan")
    assert(dgot.map(_.getLong(0)).toSeq == (0L until n.toLong).reverse,
      s"$label: rows not in descending index order")
    // ASC scan under a DESC sort must NOT lose its Sort (direction
    // mismatch), but the one partition needs no range exchange
    val mixed = ordered("v").orderBy(col("v").desc)
    assert(mixed.collect().map(_.getLong(0)).toSeq == (0L until n.toLong).reverse)
    val mplan = mixed.queryExecution.executedPlan.toString
    assert(mplan.contains("Sort ["), s"$label: direction mismatch lost its Sort:\n$mplan")
    assert(!mplan.contains("Exchange rangepartitioning"),
      s"$label: direction mismatch shuffles one partition:\n$mplan")
    // select-then-orderBy (the dsv2_ordered_scan shape): Project, no Sort
    val sel = ordered("v").select("v").orderBy("v")
    assert(sel.collect().map(_.getLong(0)).toSeq == (0L until n.toLong))
    val splan = sel.queryExecution.executedPlan.toString
    assert(!splan.contains("Sort [") && !splan.contains("Exchange"),
      s"$label: select-then-orderBy still sorts/shuffles:\n$splan")
    // a non-pushable filter leaves the scan engaged: order holds, no Sort
    val odd = udf((v: Long) => v % 2 == 1)
    val udfDf = ordered("v").where(odd(col("v"))).orderBy("v")
    assert(udfDf.collect().map(_.getLong(0)).toSeq == (1L until n.toLong by 2),
      s"$label: UDF-filtered ordered scan lost the order")
    val uplan = udfDf.queryExecution.executedPlan.toString
    assert(!uplan.contains("Sort ["), s"$label: UDF filter kept a Sort:\n$uplan")
    // a bare ordered read (no orderBy) streams in index order, never
    // answered on the driver in disk order
    val bare = ordered("v")
    assert(bare.collect().map(_.getLong(0)).toSeq == (0L until n.toLong),
      s"$label: bare ordered read not in index order")
    val bplan = bare.queryExecution.executedPlan.toString
    assert(!bplan.contains("GraftLocalScan"), s"$label: bare ordered read on driver:\n$bplan")
    // STALE index (append since build) → normal scan, Sort survives, exact
    c.store.append(spark, df0.limit(2), graft.store.AsIs, lineage = "ord:extra")
    val stale = spark.read.format("graft").option("ordered", "v").load(c.root)
      .orderBy("v")
    val staleRows = stale.collect()
    assert(staleRows.length == n + 2)
    assert(staleRows.map(_.getLong(0)).toSeq == staleRows.map(_.getLong(0)).sorted.toSeq)
    val stalePlan = stale.queryExecution.executedPlan.toString
    assert(stalePlan.contains("Sort ["), s"stale index must keep the Sort:\n$stalePlan")
    // DELTA generations (incremental refresh) → per-gen order only → fallback
    graft.index.Index.refresh(spark, c.store, "v")
    if (graft.index.Index.deltaGens(c.store, "v").nonEmpty) {
      val gen = spark.read.format("graft").option("ordered", "v").load(c.root)
        .orderBy("v")
      assert(gen.queryExecution.executedPlan.toString.contains("Sort ["))
      assert(gen.count() == n + 2)
    }
    c.dropStore()
  }

  test("Columns.readOrdered: index order via the API facade; stale sorts") {
    val n = 600
    val schema = StructType(Seq(
      StructField("v", LongType, nullable = false),
      StructField("s", StringType, nullable = false)))
    val df0 = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until n).map(i => Row((i.toLong * 7) % n, s"s$i")), 3), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-rdo"), df0, chunkRows = 64)
    c("v").createIndex()
    val got = c.readOrdered("v").collect()
    assert(got.map(_.getLong(1)).toSeq == (0L until n.toLong), "not in index order")
    // the Sort node is carried ALWAYS (correctness never rides on the scan
    // engaging); when the scan engages, Spark drops it over the ordered node
    for (aqe <- Seq(true, false); desc <- Seq(false, true)) withAqe(aqe) {
      val engaged = c.readOrdered("v", descending = desc)
      engaged.collect()
      val plan = engaged.queryExecution.executedPlan.toString
      assert(!plan.contains("Sort [") && !plan.contains("Exchange"),
        s"aqe=$aqe desc=$desc: readOrdered still sorts/shuffles:\n$plan")
    }
    // compositions that DISENGAGE the ordered scan stay exact:
    // limit → TopN pushdown (10 smallest, not 10 in disk order)
    assert(c.readOrdered("v").limit(10).collect().map(_.getLong(1)).toSeq ==
      (0L until 10L), "limit over readOrdered lost the order")
    // filter → pushed filter keeps its real Sort
    val filtered = c.readOrdered("v").where(col("v") < 50L).collect()
    assert(filtered.map(_.getLong(1)).toSeq == (0L until 50L),
      "filter over readOrdered lost the order")
    assert(c.readOrdered("v", descending = true).collect()
      .map(_.getLong(1)).toSeq == (0L until n.toLong).reverse)
    // order column NOT in the projection: still ordered (fallback-safe too)
    val sOnly = c.readOrdered("v", Seq("s")).collect()
    assert(sOnly.length == n && sOnly.head.schema.fieldNames.toSeq == Seq("_row_id", "s"))
    // stale index → explicit sort fallback, exact and ordered
    c.store.append(spark, df0.limit(3), graft.store.AsIs, lineage = "rdo:x")
    val stale = c.readOrdered("v").collect()
    assert(stale.length == n + 3)
    assert(stale.map(_.getLong(1)).toSeq == stale.map(_.getLong(1)).sorted.toSeq)
    c.dropStore()
  }

  test("Ranges.merge/intersect properties (shared planner/refiner arithmetic)") {
    val rnd = new java.util.Random(11)
    (1 to 200).foreach { _ =>
      def randRanges(): Seq[(Long, Long)] =
        (0 until rnd.nextInt(8)).map { _ =>
          val a = rnd.nextInt(100).toLong; (a, a + 1 + rnd.nextInt(20)) }
      def cover(rs: Seq[(Long, Long)]): Set[Long] =
        rs.flatMap { case (a, b) => a until b }.toSet
      val x = randRanges(); val y = randRanges()
      val m = graft.store.Ranges.merge(x)
      assert(cover(m) == cover(x), s"merge changed coverage: $x")
      assert(m.sliding(2).forall(p => p.size < 2 || p(0)._2 < p(1)._1),
        s"merge left overlapping/adjacent ranges: $m")
      assert(cover(graft.store.Ranges.intersect(x, y)) == (cover(x) & cover(y)),
        s"intersect wrong for $x ∩ $y")
    }
  }

  test("row-range-filtered aggregates push down metadata-only; unaligned falls back") {
    val c = mk(1000) // 4 parts × 250 rows, chunkRows=50 → boundaries at 50s
    val df = spark.read.format("graft").load(c.root)
    // aligned range [0, 500): every overlapping chunk fully inside →
    // count/sum/min/max answer from manifests (AggPushed, zero chunk reads)
    val before = graft.store.Decode.chunksRead.get()
    val agg = df.where(col("_row_id") < 500L)
      .agg(count(lit(1)).as("n"), sum("id").as("s"),
        min("id").as("mn"), max("id").as("mx"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("AggPushed"), s"filtered aggregate not pushed:\n$plan")
    val r = agg.collect()(0)
    assert(r.getLong(0) == 500L && r.getLong(1) == (0L until 500L).sum)
    assert(r.getLong(2) == 0L && r.getLong(3) == 499L)
    assert(graft.store.Decode.chunksRead.get() == before,
      "metadata-only aggregate read chunks")
    // count alone pushes at ANY row boundary (needs no chunk alignment)
    val cnt = df.where(col("_row_id") >= 123L && col("_row_id") < 800L)
      .agg(count(lit(1)).as("n"))
    assert(cnt.queryExecution.executedPlan.toString.contains("AggPushed"))
    assert(cnt.collect()(0).getLong(0) == 677L)
    // UNALIGNED sum: chunk stats cannot split a chunk → falls back to a
    // real scan, still exact
    val un = df.where(col("_row_id") < 123L).agg(sum("id").as("s"))
    assert(!un.queryExecution.executedPlan.toString.contains("AggPushed"))
    assert(un.collect()(0).getLong(0) == (0L until 123L).sum)
    // empty selection: count pushes as 0; min/max/sum fall back to NULL
    assert(df.where(col("_row_id") < 0L).agg(count(lit(1))).collect()(0).getLong(0) == 0L)
    assert(df.where(col("_row_id") < 0L).agg(min("id")).collect()(0).isNullAt(0))
    // consumed _row_id filters stay row-exact on plain scans too
    assert(df.where(col("_row_id") >= 17L && col("_row_id") < 61L).count() == 44L)
    c.dropStore()
  }

  test("membership filters: unindexed point lookup decodes ~zero chunks") {
    // high-cardinality RANDOM strings: every chunk's [min,max] prefix
    // envelope spans the whole keyspace, so the zone map prunes nothing —
    // pruning must come from the per-chunk membership filter
    val rnd = new java.util.Random(99)
    val keys = (0 until 4000).map(i => f"${rnd.nextLong()}%016x-$i")
    val schema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        keys.zipWithIndex.map { case (k, i) => Row(k, i.toLong) }, 4), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-bloom"), df, chunkRows = 100)
    val g = spark.read.format("graft").load(c.root)
    val before = graft.store.Decode.chunksRead.get()
    // MISS: a provably absent key excludes every chunk — ZERO decodes
    assert(g.where(col("k") === "not-a-key").count() == 0)
    val afterMiss = graft.store.Decode.chunksRead.get()
    assert(afterMiss == before, s"miss decoded ${afterMiss - before} chunks")
    // HIT: only the chunks whose filter matches (1 true + rare FPs) decode;
    // the store holds 40 k-chunks + 40 v-chunks
    val skippedBefore = graft.store.Decode.chunksFilterSkipped.get()
    val hit = g.where(col("k") === keys(1234)).collect()
    assert(hit.length == 1 && hit(0).getLong(1) == 1234L)
    val decoded = graft.store.Decode.chunksRead.get() - afterMiss
    assert(decoded <= 8, s"hit decoded $decoded chunks (expected ~2 of 80)")
    assert(graft.store.Decode.chunksFilterSkipped.get() > skippedBefore,
      "filters never engaged")
    // IN probes compose, and a COW update re-enters the filter
    c("k").update(Seq(7L), Seq("updated-key"))
    assert(g.where(col("k").isin("updated-key", "also-missing")).count() == 1)
    // the filter survives vacuum's generation rewrite
    c.vacuum()
    val g2 = spark.read.format("graft").load(c.root)
    val preVac = graft.store.Decode.chunksRead.get()
    assert(g2.where(col("k") === "still-not-a-key").count() == 0)
    assert(graft.store.Decode.chunksRead.get() == preVac,
      "post-vacuum miss decoded chunks — filters lost in compaction")
    assert(g2.where(col("k") === "updated-key").count() == 1)
    assert(g2.where(col("k") === keys(7)).count() == 0,
      "replaced value must leave the rebuilt filter's answer set")
    c.dropStore()
  }

  test("runtime join filters reach the membership filters (unclustered keys)") {
    // broadcast join on a RANDOM string key: zone maps can't prune (every
    // chunk spans the keyspace), so the execution-time IN filter from the
    // build side must prune through the per-chunk blooms instead
    val rnd = new java.util.Random(41)
    val keys = (0 until 2000).map(i => f"${rnd.nextLong()}%016x")
    val schema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        keys.zipWithIndex.map { case (k, i) => Row(k, i.toLong) }, 4), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-rtbloom"), df, chunkRows = 100)
    // drive the SupportsRuntimeFiltering surface directly (Spark's DPP
    // heuristics skip injection for tiny local joins): the execution-time
    // IN must flow into the reader probes and skip chunks via the blooms
    val builder = new graft.sources.GraftScanBuilder(c.root)
    val scan = builder.build().asInstanceOf[graft.sources.GraftScan]
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k",
        Array(keys(77), keys(1500)).map(_.asInstanceOf[Any]))))
    // the filters are tested while the scan plans its partitions
    val skippedBefore = graft.store.Decode.chunksFilterSkipped.get()
    val parts = scan.planInputPartitions()
    val factory = scan.createReaderFactory()
    val got = parts.flatMap { p =>
      val r = factory.createColumnarReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      while (r.next()) {
        r.get().rowIterator().forEachRemaining { row =>
          buf += ((row.getUTF8String(0).toString, row.getLong(1)))
        }
      }
      r.close()
      buf
    }
    // superset semantics (residuals are Spark's job) but only surviving
    // chunks decode: both targets present, volume ≈ the 2 hit chunks
    assert(got.exists(_ == (keys(77), 77L)) && got.exists(_ == (keys(1500), 1500L)))
    assert(got.length <= 400, s"blooms pruned nothing: ${got.length} rows decoded")
    assert(graft.store.Decode.chunksFilterSkipped.get() > skippedBefore,
      "runtime join filter never engaged the membership filters")
    // end-to-end exactness with the runtime-filter surface present
    val fact = spark.read.format("graft").load(c.root)
    val dim = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(keys(77)), Row(keys(1500))), 1),
      StructType(Seq(StructField("k", StringType, nullable = false))))
    val out = fact.join(broadcast(dim), "k").select("k", "v").collect()
    assert(out.map(_.getLong(1)).sorted.toSeq == Seq(77L, 1500L))
    c.dropStore()
  }

  test("scan after scatter update sees moved values (zone map refreshed)") {
    val c = mk(1000)
    // move values far OUTSIDE their chunks' original min/max: rows 100-104
    // (chunk [100,150)) get id-values around 900000
    c("id").update(Seq(100L, 101L, 102L, 103L, 104L), Seq(900000L, 900001L, 900002L, 900003L, 900004L))
    val df = spark.read.format("graft").load(c.root)
    // predicate matches ONLY the updated values; stale chunk stats would
    // prune their chunk and silently drop all 5 rows
    val hits = df.where(col("id") >= 900000L).select("id").collect().map(_.getLong(0)).sorted
    assert(hits.toSeq == Seq(900000L, 900001L, 900002L, 900003L, 900004L))
    // and the vacated range no longer matches
    assert(df.where(col("id") === 102L).count() == 0)
    c.dropStore()
  }

  test("backfilled column: partitions without chunks survive fill-matching predicates") {
    val c = mk(400)
    c.addColumn(graft.store.ColumnSpec("w", graft.codec.PType.I64.id, fill = Some("7")))
    val df = spark.read.format("graft").load(c.root)
    // every existing row has w = 7 via backfill; a pushed predicate matching
    // the fill must not prune the chunk-less partitions
    assert(df.where(col("w") === 7L).count() == 400)
    assert(df.where(col("w") >= 7L && col("id") < 10L).count() == 10)
    // predicate excluding the fill: pruning to zero is CORRECT here
    assert(df.where(col("w") > 7L).count() == 0)
    c.dropStore()
  }

  test("NaN-bearing float chunks are never zone-map pruned") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", DoubleType, nullable = false)))
    val df0 = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until 200).map(i => Row(i.toLong, if (i % 50 == 3) Double.NaN else i * 1.0)), 2),
      schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-nan"), df0, chunkRows = 25)
    val df = spark.read.format("graft").load(c.root)
    // Spark SQL orders NaN above +Inf, so v >= 100 matches ALL 4 NaN rows
    // (i = 3, 53, 103, 153) plus the real 98 — NaN chunks must not be pruned
    assert(df.where(col("v") >= 100.0).count() ==
      (0 until 200).count(i => i % 50 == 3 || i >= 100))
    // NaN predicates themselves: equality matches exactly the NaN rows
    // (Spark NaN==NaN is true); never pruned away, never over-matched
    assert(df.where(col("v") === Double.NaN).count() == 4)
    assert(df.where(col("v").isin(1.0, Double.NaN)).count() == 5)
    c.dropStore()
  }

  test("string zone maps: equality and starts-with prune but stay exact") {
    // store sorted by s so string chunks have tight prefix ranges
    val n = 2000
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType, nullable = false)))
    val df0 = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until n).map(i => Row(i.toLong, f"key$i%05d")), 4), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-strzm"), df0,
      graft.store.ByKey("s", 4), chunkRows = 100)
    val df = spark.read.format("graft").load(c.root)
    // equality on a string column
    val hit = df.where(col("s") === "key01234").collect()
    assert(hit.length == 1 && hit(0).getLong(0) == 1234L)
    assert(df.where(col("s") === "zzz-absent").count() == 0)
    // range
    assert(df.where(col("s") >= "key01990" && col("s") < "key01995").count() == 5)
    // starts-with must NOT be pruned away ("key0123" matches 10 rows > itself)
    assert(df.where(col("s").startsWith("key0123")).count() == 10)
    // IN-list envelope pruning, exact via residual
    assert(df.where(col("s").isin("key00007", "key01993", "nope")).count() == 2)
    assert(df.where(col("id").isin(5L, 6L, 1999L)).count() == 3)
    // evidence: equality plans strictly fewer decode units than a full scan
    val st = graft.store.ColumnStore.open(c.root)
    val selEq = graft.sources.GraftScan.planSelection(st.snapshot,
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("s", "key01234")))
    val pruned = selEq match {
      case graft.store.SelRange(a, b, _) => b - a
      case graft.store.SelRanges(as, bs) => as.indices.map(i => bs(i) - as(i)).sum
      case graft.store.SelAll => n.toLong
      case _ => n.toLong
    }
    assert(pruned <= 200, s"string equality left $pruned of $n rows unpruned")
    c.dropStore()
  }

  test("scan is vectorized: ColumnarToRow over BatchScan; arrays round-trip") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = false),
      StructField("s", StringType, nullable = false),
      StructField("flag", BooleanType, nullable = false)))
    val n = 700
    val df0 = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until n).map(i =>
        Row(i.toLong, (0 until (i % 7)).map(j => i * 10 + j), s"v$i", i % 3 == 0)), 3),
      schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-colnar"), df0, chunkRows = 64)
    val df = spark.read.format("graft").load(c.root)
    // the distributed scan: a read this small is otherwise answered on the
    // driver (DriverReadSpec)
    val plan = graft.store.Decode.driverBound.withValue((0L, 0L))(
      df.queryExecution.executedPlan.toString)
    assert(plan.contains("ColumnarToRow"),
      s"scan not vectorized:\n$plan")
    val rows = df.select("id", "tokens", "s", "flag").collect()
    assert(rows.length == n)
    rows.foreach { r =>
      val i = r.getLong(0).toInt
      assert(r.getSeq[Int](1) == (0 until (i % 7)).map(j => i * 10 + j))
      assert(r.getString(2) == s"v$i")
      assert(r.getBoolean(3) == (i % 3 == 0))
    }
    // batch boundaries inside chunks: pruned range read still exact
    val some = df.where(col("_row_id") >= 100L && col("_row_id") < 230L)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(some.toSeq == (100L until 230L))
    c.dropStore()
  }

  test("plain, filtered, count(*) and micro-batch scans all plan columnar") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
    val c = mk(400)
    def scans(p: SparkPlan): Seq[DataSourceV2ScanExecBase] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case b: DataSourceV2ScanExecBase => Seq(b)
      case o => o.children.flatMap(scans)
    }
    def columnar(plan: SparkPlan): Boolean = {
      val ss = scans(plan)
      ss.nonEmpty && ss.forall(_.supportsColumnar)
    }
    // the distributed scans: reads this small are otherwise answered on
    // the driver (DriverReadSpec)
    def batchColumnar(df: org.apache.spark.sql.DataFrame, rows: Long): Boolean =
      graft.store.Decode.driverBound.withValue((0L, 0L)) {
        assert(df.collect().length == rows)
        columnar(df.queryExecution.executedPlan)
      }
    val df = spark.read.format("graft").load(c.root)
    assert(batchColumnar(df, 400), "plain scan")
    assert(batchColumnar(df.where(col("id") >= 100L && col("id") < 120L), 20), "filtered scan")
    // the limit keeps the count from being answered by metadata: the scan
    // reads an empty projection
    val counted = df.limit(50).groupBy().count()
    assert(batchColumnar(counted, 1) && counted.head().getLong(0) == 50L, "count(*)")
    val q = spark.readStream.format("graft").load(c.root)
      .writeStream.format("memory").queryName("graft_columnar_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val exec = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution
      assert(columnar(exec.executedPlan), s"micro-batch scan:\n${exec.executedPlan}")
      assert(spark.table("graft_columnar_tail").count() == 400)
    } finally q.stop()
    c.dropStore()
  }

  test("a failed index consult is not cached: the next planning routes") {
    // values scattered over row order: zone maps cannot prune an equality,
    // only the index can
    val n = 4000
    val schema = StructType(Seq(StructField("v", LongType, nullable = false)))
    val df0 = spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until n).map(i => Row((i * 7919L) % n)), 4), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-ircache"), df0, chunkRows = 50)
    c("v").createIndex()
    def plannedChunks(): Int = {
      val b = new graft.sources.GraftScanBuilder(c.root)
      // a range, not an equality: the membership filters, tested at
      // planning, would narrow an equality with no index at all
      b.pushFilters(Array(org.apache.spark.sql.sources.GreaterThanOrEqual("v", 1234L),
        org.apache.spark.sql.sources.LessThanOrEqual("v", 1234L)))
      b.build().asInstanceOf[graft.sources.GraftScan].planInputPartitions()
        .map(_.asInstanceOf[graft.sources.GraftInputPartition]
          .unit.colChunks.valuesIterator.map(_.size).sum).sum
    }
    // the consult throws once: the base sort is briefly unreadable
    val base = graft.index.Index.basePath(c.store, "v")
    val aside = s"${c.root}/base-aside"
    graft.store.FsIO.rename(base, aside)
    val unrouted = try plannedChunks() finally graft.store.FsIO.rename(aside, base)
    assert(unrouted == n / 50, s"fallback plans every chunk, planned $unrouted")
    // same query, same store state: the consult reruns and prunes
    val routed = plannedChunks()
    assert(routed <= 3, s"index route should plan one granule's chunks, planned $routed")
    c.dropStore()
  }

  test("IN-list envelope extremes are type-exact (no Double-key collisions)") {
    import graft.store.{SelAll, SelRange, SelRanges}
    import org.apache.spark.sql.sources
    def covers(sel: Any, gid: Long): Boolean = sel match {
      case SelAll => true
      case SelRange(a, b, _) => gid >= a && gid < b
      case SelRanges(as, bs) => as.indices.exists(i => gid >= as(i) && gid < bs(i))
      case _ => true
    }
    // i64 beyond 2^53: +3 and +5 both round to 2^53+4 as Double, so a lossy
    // minBy can pick +5 as the IN-list "min" and prune the chunk holding +3
    val big = 1L << 53
    val vals = Array(big + 3, big + 4, big + 4, big + 4, // chunk 0 (max +4)
      big + 5, big + 6, big + 6, big + 6) ++ // chunk 1
      Array.tabulate(32)(i => big + 100 + i) // later chunks
    val schemaL = StructType(Seq(StructField("v", LongType, nullable = false)))
    val dfL = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.toSeq.map(Row(_)), 1), schemaL)
    val cL = Columns.fromDataFrame(spark, tmpDir("graft-inexact-l"), dfL, chunkRows = 4)
    val stL = graft.store.ColumnStore.open(cL.root)
    val selL = graft.sources.GraftScan.planSelection(stL.snapshot,
      Array[sources.Filter](sources.In("v", Array[Any](big + 5, big + 3))))
    assert(covers(selL, 0L), s"IN envelope pruned the chunk holding ${big + 3}: $selL")
    assert(spark.read.format("graft").load(cL.root)
      .where(col("v").isin(big + 5, big + 3)).count() == 2)
    cL.dropStore()
    // 8-byte strings differing only in the LAST byte: prefix8 values are
    // distinct (~2^62) but collide as Doubles (ulp ≈ 1024 there), so a
    // lossy key ties every element and minBy returns whichever comes first
    val svals = ('0' to 'Z').take(40).map(ch => s"abcdefg$ch")
    assert(graft.codec.Utf8Order.prefix8(svals.head).toDouble ==
      graft.codec.Utf8Order.prefix8(svals.last).toDouble,
      "test premise: prefix8 keys must collide as Doubles")
    val schemaS = StructType(Seq(StructField("s", StringType, nullable = false)))
    val dfS = spark.createDataFrame(
      spark.sparkContext.parallelize(svals.map(Row(_)), 1), schemaS)
    val cS = Columns.fromDataFrame(spark, tmpDir("graft-inexact-s"), dfS, chunkRows = 4)
    val stS = graft.store.ColumnStore.open(cS.root)
    val selS = graft.sources.GraftScan.planSelection(stS.snapshot,
      Array[sources.Filter](sources.In("s", Array[Any](svals.last, svals.head))))
    assert(covers(selS, 0L), s"IN envelope pruned the chunk holding ${svals.head}: $selS")
    assert(spark.read.format("graft").load(cS.root)
      .where(col("s").isin(svals.last, svals.head)).count() == 2)
    cS.dropStore()
  }

  test("TableIO seam resolves uri schemes") {
    import graft.sources._
    assert(TableIO.forUri("iceberg:cat.db.t") == ((IcebergTableIO, "cat.db.t")))
    assert(TableIO.forUri("parquet:/x/t.parquet") == ((ParquetTableIO, "/x/t.parquet")))
    assert(TableIO.forUri("/x/t.parquet") == ((ParquetTableIO, "/x/t.parquet")))
    val c = mk(50)
    val viaSeam = TableIO.load(spark, s"graft:${c.root}")
    assert(viaSeam.count() == 50)
    c.dropStore()
  }

  test("partition-level stat roll-up skips partitions before chunk walks") {
    import org.apache.spark.sql.sources
    // ByKey store: each of 8 partitions holds a tight id range; a selective
    // predicate must skip most partitions WITHOUT walking their chunk lists
    val n = 4000
    val schema = StructType(Seq(StructField("id", LongType, nullable = false)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until n).map(i => Row(i.toLong)), 4), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-rollup"), df,
      graft.store.ByKey("id", 8), chunkRows = 50)
    val st = graft.store.ColumnStore.open(c.root)
    val (sel, visited, skipped) = graft.sources.GraftScan.planSelectionCounted(st.snapshot,
      Array[sources.Filter](sources.GreaterThanOrEqual("id", 3900L)))
    assert(skipped >= 6 && visited <= 2,
      s"roll-up should skip most partitions: visited=$visited skipped=$skipped sel=$sel")
    assert(spark.read.format("graft").load(c.root)
      .where(col("id") >= 3900L).count() == 100)
    c.dropStore()
  }

  test("index-routed scans: fresh index prunes, stale index falls back, exact always") {
    val n = 4000
    val schema = StructType(Seq(StructField("id", LongType, nullable = false)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until n).map(i => Row(i.toLong)), 4), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-idxroute"), df,
      graft.store.ByKey("id", 8), chunkRows = 50)
    c("id").createIndex()
    // fresh index: the plan advertises the route; result exact
    val q = spark.read.format("graft").load(c.root).where(col("id") === 1234L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("IndexRouted: [id]"), s"no index route in plan:\n$plan")
    val got = q.collect()
    assert(got.length == 1 && got(0).getLong(0) == 1234L)
    // opt-out via read option
    val q2 = spark.read.format("graft").option("useIndex", "false")
      .load(c.root).where(col("id") === 1234L)
    assert(!q2.queryExecution.executedPlan.toString.contains("IndexRouted: [id]"))
    assert(q2.count() == 1)
    // in-place update WITHOUT an index rebuild (Mutate directly): the stamp
    // moves, routing must disengage — a stale index would prune the moved
    // row's new location and silently drop it
    graft.store.Mutate.update(spark, c.store, "id", Array(10L), Array(999999L: Any))
    val q3 = spark.read.format("graft").load(c.root).where(col("id") === 999999L)
    assert(!q3.queryExecution.executedPlan.toString.contains("IndexRouted: [id]"),
      "stale index must not route the scan")
    assert(q3.count() == 1)
    c.dropStore()
  }

  test("runtime IN filter prunes chunks at execution (DPP analogue)") {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false)))
    val df0 = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 4000).map(i => Row(i.toLong)), 4), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-dpp"), df0,
      graft.store.ByKey("id", 8), chunkRows = 50)
    def chunkCount(parts: Array[org.apache.spark.sql.connector.read.InputPartition]): Int =
      parts.map(_.asInstanceOf[graft.sources.GraftInputPartition]
        .unit.colChunks.valuesIterator.map(_.size).sum).sum
    // drive the SupportsRuntimeFiltering surface directly (what Spark's
    // adaptive DPP rule calls when a broadcast build side completes)
    val builder = new graft.sources.GraftScanBuilder(c.root)
    val scan = builder.build().asInstanceOf[graft.sources.GraftScan]
    assert(scan.filterAttributes().map(_.describe()).contains("id"))
    val before = chunkCount(scan.planInputPartitions())
    assert(before >= 80, s"expected ~80 chunks unfiltered, got $before")
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("id",
        Array(100L, 105L, 2000L).map(_.asInstanceOf[Any]))))
    val after = scan.planInputPartitions()
    assert(chunkCount(after) <= 4,
      s"runtime IN should prune to ~2 chunks, planned ${chunkCount(after)}")
    // the surviving chunks still cover every requested row
    val rows = after.flatMap { p =>
      val gp = p.asInstanceOf[graft.sources.GraftInputPartition]
      val r = new graft.store.Decode.ColumnarUnitReader(gp.unit, gp.spec, gp.outFields)
      try r.rows.map(_.getLong(gp.outFields.indexOf("id"))).toVector
      finally r.close()
    }.toSet
    assert(Set(100L, 105L, 2000L).subsetOf(rows))
    // end-to-end: a broadcast join over the store stays exact with the
    // runtime-filter surface present
    val dim = spark.range(0, 4000).select(col("id")).where(col("id") % 400 === 0)
    val joined = spark.read.format("graft").load(c.root)
      .join(org.apache.spark.sql.functions.broadcast(dim), "id")
    assert(joined.count() == 10)
    c.dropStore()
  }

  test("IN probe treats -0.0 and 0.0 as equal (Spark IN semantics)") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("x", DoubleType, nullable = false)))
    val df0 = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until 200).map(i => Row(i.toLong, i.toDouble)), 2), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-negzero"), df0,
      graft.store.ByKey("id", 2), chunkRows = 50)
    val df = spark.read.format("graft").load(c.root)
    // chunk 0 records min = +0.0; a -0.0 probe must not prune it (IN
    // matches -0.0 == 0.0, but Double's total order says -0.0 < 0.0)
    assert(df.where(col("x").isin(-0.0, 999.0)).count() == 1)
    assert(df.where(col("x").isin(0.0)).count() == 1)
    c.dropStore()
  }

  test("offset pushdown: paging reads only the requested row window") {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false)))
    val df0 = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 1000).map(i => Row(i.toLong)), 4), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-offset"), df0,
      graft.store.ByKey("id", 4), chunkRows = 50)
    val df = spark.read.format("graft").load(c.root)
    // bare offset: skip n, read the rest
    val q1 = df.offset(990)
    assert(q1.queryExecution.executedPlan.toString.contains("PushedOffset: 990"))
    assert(q1.collect().map(_.getLong(0)).sorted.toSeq == (990L until 1000L))
    // offset-then-limit paging (LIMIT k OFFSET n): rows [n, n+k)
    val q2 = df.offset(100).limit(5)
    val p2 = q2.queryExecution.executedPlan.toString
    assert(p2.contains("PushedOffset: 100"), s"offset not pushed:\n$p2")
    assert(q2.collect().map(_.getLong(0)).sorted.toSeq == (100L until 105L))
    // limit-then-offset: take k, skip n -> rows [n, k)
    val q3 = df.limit(10).offset(7)
    assert(q3.collect().map(_.getLong(0)).sorted.toSeq == (7L until 10L))
    c.dropStore()
  }

  test("topN pushdown: ORDER BY indexed col LIMIT k reads k rows via index") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("x", DoubleType, nullable = false)))
    val df0 = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until 4000).map(i => Row(i.toLong, i * 0.5)), 4), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-topn"), df0,
      graft.store.ByKey("id", 8), chunkRows = 50)
    c("id").createIndex()
    val df = spark.read.format("graft").load(c.root)
    // DESC: the scan plans exactly the 5 hit rows from the index tail
    val qd = df.orderBy(col("id").desc).limit(5)
    val pd = qd.queryExecution.executedPlan.toString
    assert(pd.contains("TopNPushed: id DESC LIMIT 5"), s"no topN push:\n$pd")
    assert(qd.collect().map(_.getLong(0)).toSeq == Seq(3999L, 3998L, 3997L, 3996L, 3995L))
    // ASC
    val qa = df.orderBy(col("id")).limit(3)
    assert(qa.queryExecution.executedPlan.toString.contains("TopNPushed: id ASC LIMIT 3"))
    assert(qa.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    // a residual filter could drop hit rows -> the index top-k would be a
    // SUBSET, not a superset: must decline
    val qf = df.where(col("x") > 100.0).orderBy(col("id")).limit(3)
    assert(!qf.queryExecution.executedPlan.toString.contains("TopNPushed"))
    assert(qf.collect().map(_.getLong(0)).toSeq == Seq(201L, 202L, 203L))
    // non-indexed sort key: decline
    val qn = df.orderBy(col("x").desc).limit(2)
    assert(!qn.queryExecution.executedPlan.toString.contains("TopNPushed"))
    assert(qn.collect().map(_.getDouble(1)).toSeq == Seq(3999 * 0.5, 3998 * 0.5))
    // stale index (direct update, stamp moved): decline, still exact
    graft.store.Mutate.update(spark, c.store, "id", Array(0L), Array(99999L: Any))
    val qs = df.orderBy(col("id").desc).limit(1)
    assert(!qs.queryExecution.executedPlan.toString.contains("TopNPushed"))
    assert(qs.collect().map(_.getLong(0)).toSeq == Seq(99999L))
    c.dropStore()
  }

  test("index routing stays engaged across delta refresh and vacuum") {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false)))
    def df(vals: Seq[Long], parts: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(Row(_)), parts), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-idxdelta"),
      df(0L until 4000L, 4), graft.store.ByKey("id", 8), chunkRows = 50)
    c("id").createIndex()
    // append → INCREMENTAL refresh (delta generation); the index is fresh
    // again, so the DSv2 scan must route, reading base + delta parquet
    c.append(df(100000L until 100500L, 2))
    assert(graft.index.Index.deltaGens(c.store, "id").nonEmpty,
      "expected the append to take the incremental path")
    val q = spark.read.format("graft").load(c.root).where(col("id") === 100123L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("IndexRouted: [id]"), s"no index route in plan:\n$plan")
    val got = q.collect()
    assert(got.length == 1 && got(0).getLong(0) == 100123L)
    // the delta rows route to PRUNED scans: a selective hit reads fewer
    // rows than the table (routing + zone maps intersected)
    assert(spark.read.format("graft").load(c.root)
      .where(col("id") === 42L).count() == 1)
    // vacuum after a scatter update: values preserved → the index stays
    // routable → routing stays ON
    c("id").update(Seq(10L), Seq(777777L)) // forces a full rebuild (fresh)
    c.vacuum()
    val q2 = spark.read.format("graft").load(c.root).where(col("id") === 777777L)
    assert(q2.queryExecution.executedPlan.toString.contains("IndexRouted: [id]"),
      "vacuum must not permanently disengage index routing")
    assert(q2.collect().map(_.getLong(0)).toSeq == Seq(777777L))
    // compactSegments preserves row ids/values: still routed, still exact
    c.compactSegments()
    val q3 = spark.read.format("graft").load(c.root).where(col("id") === 100123L)
    assert(q3.queryExecution.executedPlan.toString.contains("IndexRouted: [id]"))
    assert(q3.count() == 1)
    c.dropStore()
  }

  test("DSv2 write path: create-on-write, append, overwrite, round trip") {
    val root = tmpDir("graft-dsv2-write")
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("s", StringType, nullable = false)))
    def mkDf(from: Int, n: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (from until from + n).map(i => Row(i.toLong, s"w$i")), 3), schema)
    // create on first write (mode=append without a pre-created store)
    mkDf(0, 300).write.format("graft").mode("append").save(root)
    val df1 = spark.read.format("graft").load(root)
    assert(df1.schema.fieldNames.toSeq == Seq("k", "s"))
    assert(df1.count() == 300)
    assert(df1.where(col("k") === 123L).collect()(0).getString(1) == "w123")
    // append adds a second segment; row ids keep growing
    mkDf(300, 200).write.format("graft").mode("append").save(root)
    val df2 = spark.read.format("graft").load(root)
    assert(df2.count() == 500)
    val byRid = df2.select("_row_id", "k").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byRid(499L) == 499L && byRid(0L) == 0L)
    // column order different from table order resolves BY NAME
    mkDf(500, 10).select("s", "k").write.format("graft").mode("append").save(root)
    assert(spark.read.format("graft").load(root).where(col("k") === 505L)
      .collect()(0).getString(1) == "w505")
    // zone-map pushdown works on the written store
    assert(spark.read.format("graft").load(root).where(col("k") >= 498L).count() == 12)
    // a FAILED overwrite must leave the original data intact (the new
    // store stages under the root and only swaps in at commit)
    val before = spark.read.format("graft").load(root).count()
    val boom = spark.range(0, 10).selectExpr("id AS k", "CAST(id AS STRING) AS s")
      .map { r => if (r.getLong(0) == 5) throw new RuntimeException("boom"); r }(
        org.apache.spark.sql.Encoders.row(schema))
    intercept[Exception] { boom.write.format("graft").mode("overwrite").save(root) }
    assert(spark.read.format("graft").load(root).count() == before,
      "failed overwrite must not destroy the existing store")
    // overwrite truncates and rewrites
    mkDf(1000, 50).write.format("graft").mode("overwrite").save(root)
    val df3 = spark.read.format("graft").load(root)
    assert(df3.count() == 50)
    assert(df3.agg(org.apache.spark.sql.functions.min("k")).collect()(0).getLong(0) == 1000L)
    // the written store is a full graft store: API read path sees it too
    val c = Columns.open(spark, root)
    assert(c.nrows == 50)
    c.dropStore()
  }

  test("aggregate pushdown: count/min/max answered from metadata alone") {
    val c = mk(1000)
    val df = spark.read.format("graft").load(c.root)
    val agg = df.agg(count(lit(1)).as("n"), min("id").as("mn"), max("id").as("mx"),
      min("x").as("xmn"), max("x").as("xmx"), sum("id").as("sm"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("AggPushed"), s"aggregates not pushed:\n$plan")
    val r = agg.collect()(0)
    assert(r.getLong(0) == 1000 && r.getLong(1) == 0L && r.getLong(2) == 999L)
    assert(r.getDouble(3) == 0.0 && r.getDouble(4) == 999 * 0.5)
    assert(r.getLong(5) == 999L * 1000L / 2L)
    // string min/max is NOT provable from lossy prefix stats -> real scan
    val sAgg = df.agg(min("s"))
    assert(!sAgg.queryExecution.executedPlan.toString.contains("AggPushed"))
    assert(sAgg.collect()(0).getString(0) == "s0")
    // float SUM must NOT push: metadata would reassociate the additions
    val xSum = df.agg(sum("x"))
    assert(!xSum.queryExecution.executedPlan.toString.contains("AggPushed"))
    // residual filters block pushdown; result stays exact
    val fAgg = df.where(col("id") >= 500L).agg(count(lit(1)))
    assert(!fAgg.queryExecution.executedPlan.toString.contains("AggPushed"))
    assert(fAgg.collect()(0).getLong(0) == 500)
    // after a scatter update the roll-ups refresh (cache invalidated) —
    // the rewritten chunk recomputes its sum, so SUM stays pushable + exact
    c("id").update(Seq(0L), Seq(5000L))
    val agg2 = spark.read.format("graft").load(c.root)
      .agg(max("id").as("mx"), sum("id").as("sm"))
    assert(agg2.queryExecution.executedPlan.toString.contains("AggPushed"))
    val r2 = agg2.collect()(0)
    assert(r2.getLong(0) == 5000L)
    assert(r2.getLong(1) == 999L * 1000L / 2L + 5000L)
    c.dropStore()
  }

  test("limit pushdown clips the scan selection exactly") {
    val c = mk(1000)
    val df = spark.read.format("graft").load(c.root).limit(7)
    assert(df.collect().length == 7)
    assert(df.queryExecution.executedPlan.toString.contains("PushedLimit: 7"))
    c.dropStore()
  }

  test("scan statistics derive from manifests (rows + pruned column bytes)") {
    import org.apache.spark.sql.sources
    val c = mk(1000)
    def stats(prune: Option[StructType], filters: Array[sources.Filter]) = {
      val sb = new graft.sources.GraftScanBuilder(c.root)
      prune.foreach(sb.pruneColumns)
      sb.pushFilters(filters)
      sb.build().asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics()
    }
    val all = stats(None, Array.empty)
    assert(all.numRows.getAsLong == 1000)
    val narrow = stats(
      Some(StructType(Seq(StructField("id", LongType, nullable = false)))),
      Array[sources.Filter](sources.GreaterThanOrEqual("id", 900L)))
    assert(narrow.numRows.getAsLong >= 100 && narrow.numRows.getAsLong < 1000,
      s"zone selection rows: ${narrow.numRows.getAsLong}")
    assert(narrow.sizeInBytes.getAsLong < all.sizeInBytes.getAsLong)
    c.dropStore()
  }

  test("sql over the connector") {
    val c = mk(300)
    spark.read.format("graft").load(c.root).createOrReplaceTempView("g")
    val n = spark.sql("SELECT count(*) FROM g WHERE x >= 100.0").collect()(0).getLong(0)
    assert(n == (0 until 300).count(_ * 0.5 >= 100.0))
    c.dropStore()
  }
}
