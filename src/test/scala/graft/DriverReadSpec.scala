package graft

import graft.api._
import graft.codec.MemberFilter
import graft.store.Decode
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Reads answered on the driver with no Spark job (`sources.DriverReads`
  * for DSv2 scans, `ColumnStore.read` for the facade) against the
  * distributed reads they replace, forced by a zero driver bound.
  */
class DriverReadSpec extends AnyFunSuite {
  import SparkTestBase._

  /** `body` with every read sent to the distributed path. */
  private def distributed[T](body: => T): T = Decode.driverBound.withValue((0L, 0L))(body)

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Rows of `q` (built inside each path, so each plans afresh) on both
    * paths, asserting which path ran; as strings so NaN and ±0.0 compare
    * by their printed value.
    */
  private def bothPaths(q: => DataFrame): (Seq[String], Seq[String]) = {
    val local = q
    assert(plan(local).contains("GraftLocalScan"), plan(local))
    val dist = distributed {
      val d = q
      assert(!plan(d).contains("GraftLocalScan"), plan(d))
      d.collect().map(_.toString).toSeq
    }
    (local.collect().map(_.toString).toSeq, dist)
  }

  private val doubles = Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity, 1.5, -2.25)
  private val strings = Seq("", "a", "é", "日本", "zz", "ÿ")

  /** Every stored type: NaN and ±0.0 floats, non-ASCII strings, a list. */
  private def typedStore(n: Int): Columns = {
    val schema = StructType(Seq(
      StructField("i64", LongType, nullable = false),
      StructField("i32", IntegerType, nullable = false),
      StructField("i16", ShortType, nullable = false),
      StructField("f64", DoubleType, nullable = false),
      StructField("f32", FloatType, nullable = false),
      StructField("b", BooleanType, nullable = false),
      StructField("s", StringType, nullable = false),
      StructField("t", ArrayType(IntegerType, containsNull = false), nullable = false)))
    val rows = (0 until n).map(i => Row(i * 7919L % 1000, i % 37, (i % 29).toShort,
      doubles(i % doubles.size), doubles((i * 5) % doubles.size).toFloat, i % 3 == 0,
      strings(i % strings.size), (0 until i % 5).map(i * 10 + _)))
    Columns.fromDataFrame(spark, tmpDir("graft-driver-typed"),
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema), chunkRows = 64)
  }

  test("DSv2 reads answered on the driver equal the distributed scan: every type and predicate") {
    val c = typedStore(900)
    def g = spark.read.format("graft").load(c.root)
    val preds = Seq(
      col("i64") === 7919L * 5 % 1000, col("i64").isin(1L, 500L, 999L),
      col("i64") >= 100L && col("i64") < 130L, col("i32") === 5, col("i16").isin(3, 28),
      col("f64") === 0.0, col("f64").isNaN, col("f64") === -0.0, col("f32") > 1.0f,
      col("f32").isin(Float.NaN, -2.25f), col("b") === true && col("i32") < 4,
      col("s") === "日本", col("s").isin("é", "ÿ"), col("s").startsWith("z"),
      functions.size(col("t")) === 3, col("_row_id") === 77L,
      col("_row_id") >= 60L && col("_row_id") < 200L, col("_row_id") % 7 === 3L)
    preds.foreach { p =>
      val (local, dist) = bothPaths(g.where(p).select("_row_id", "i64", "i32", "i16", "f64",
        "f32", "b", "s", "t"))
      assert(local.nonEmpty && local == dist, s"$p")
    }
    // no filter, a projection with an expression, pushed limit and offset
    Seq[DataFrame => DataFrame](
      _.select("s", "t"),
      _.select((col("i64") * 2).as("twice"), col("t")),
      _.limit(17), _.offset(880), _.offset(100).limit(5),
      _.where(col("i32") === 5).limit(3)).foreach { f =>
      val (local, dist) = bothPaths(f(g))
      assert(local.nonEmpty && local == dist)
    }
    c.dropStore()
  }

  test("top-N and index-routed scans with generations: both paths agree") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", LongType, nullable = false)))
    def df(from: Int, until: Int) = spark.createDataFrame(spark.sparkContext.parallelize(
      (from until until).map(i => Row(i.toLong, (i * 7919L) % 997)), 4), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-driver-routed"), df(0, 4000),
      graft.store.ByKey("id", 8), chunkRows = 50)
    c("v").createIndex()
    c.append(df(4000, 4300))
    c.append(df(4300, 4500))
    assert(graft.index.Index.deltaGens(c.store, "v").size == 2)
    def g = spark.read.format("graft").load(c.root)
    Seq(col("v") >= 300L && col("v") <= 310L, col("v") === 5L,
      col("v").isin(1L, 500L, 996L)).foreach { p =>
      val q = g.where(p).select("id", "v")
      assert(plan(q).contains("IndexRouted: [v]"), plan(q))
      val (local, dist) = bothPaths(g.where(p).select("id", "v"))
      assert(local.nonEmpty && local == dist, s"$p")
    }
    // a Sort at the root keeps the distributed top-N plan on both
    val top = g.orderBy(col("v").desc).limit(7)
    assert(plan(top).contains("TopNPushed") && !plan(top).contains("GraftLocalScan"))
    // values only: rows tied at a value may come in any order
    assert(top.collect().map(_.getLong(1)).toSeq ==
      distributed(g.orderBy(col("v").desc).limit(7).collect().map(_.getLong(1)).toSeq))
    c.dropStore()
  }

  test("facade row lists, stepped slices and gathers equal the distributed read") {
    val c = typedStore(600)
    def rows(df: => DataFrame): (Seq[String], Seq[String]) = {
      val local = df
      assert(plan(local).contains("LocalTableScan") || plan(local).contains("GraftLocalScan"),
        plan(local))
      val dist = distributed { val d = df; assert(plan(d).contains("Scan ExistingRDD") ||
        plan(d).contains("BatchScan"), plan(d)); d.collect().map(_.toString).toSeq }
      (local.collect().map(_.toString).toSeq, dist)
    }
    val reads: Seq[() => DataFrame] = Seq(
      () => c.read(Seq("s", "t", "f64"), RowList(Seq(5L, -1L, 5L, 300L, 0L))),
      () => c.read(Seq("i16", "t"), Slice(10, 400, 7)),
      () => c.read(Seq("s"), Slice(500, 20, -3)),
      () => c.read(Seq("i64", "b"), Slice(100, 164)),
      () => c.read(Seq("_row_id"), RowList(Seq(9L, 3L))),
      () => { import spark.implicits._
        c.gather(Seq(7L, 3L, 7L, 590L, 3L).toDF("i"), Seq("f32", "s")) })
    reads.foreach { r =>
      val (local, dist) = rows(r())
      assert(local.nonEmpty && local == dist)
    }
    c.dropStore()
  }

  test("small reads launch no Spark job; a point hit decodes the filter's survivors plus one chunk per column") {
    // RANDOM string keys: every chunk's zone map spans the keyspace, so
    // only the membership filters prune
    val rnd = new java.util.Random(7)
    val keys = (0 until 3000).map(i => f"${rnd.nextLong()}%016x-$i")
    val schema = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val c = Columns.fromDataFrame(spark, tmpDir("graft-driver-jobs"), spark.createDataFrame(
      spark.sparkContext.parallelize(keys.zipWithIndex.map { case (k, i) => Row(k, i.toLong) }, 3),
      schema), chunkRows = 100)
    c("v").createIndex()
    def g = spark.read.format("graft").load(c.root)
    var hit, miss, slice, rowList, gathered = Array.empty[Row]
    var decoded = 0L
    val jobs = jobsDuring {
      val before = Decode.chunksRead.get()
      hit = g.where(col("k") === keys(1234)).select("k", "v").collect()
      decoded = Decode.chunksRead.get() - before
      miss = g.where(col("k") === "not-a-key").select("k", "v").collect()
      slice = c.read(Seq("k"), Slice(40, 56)).collect()
      rowList = c.read(Seq("k", "v"), RowList(Seq(2999L, 4L))).collect()
      gathered = c.gather(c("v") === 17L, Seq("k")).collect()
    }
    assert(jobs.isEmpty, s"jobs launched: $jobs")
    assert(hit.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq((keys(1234), 1234L)))
    assert(miss.isEmpty && slice.map(_.getLong(0)).toSeq == (40L until 56L))
    // ascending row ids, `_pos` giving the request order
    assert(rowList.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq((4L, 1L, keys(4)), (2999L, 0L, keys(2999))))
    assert(gathered.map(_.getString(1)).toSeq == Seq(keys(17)))
    val surviving = {
      val sel = graft.sources.GraftScan.planSelection(c.store.snapshot,
        Array(org.apache.spark.sql.sources.EqualTo("k", keys(1234))))
      val (units, _) = c.store.planUnits(Seq("k"), sel)
      val probes = Seq(("k", Array(MemberFilter.hashString(keys(1234)))))
      units.flatMap(u => Decode.refineUnit(u, probes, Decode.readFilter(u)))
        .map(_.colChunks("k").size).sum
    }
    assert(surviving < 30, s"$surviving of 30 key chunks survive the filters")
    assert(decoded == surviving + 2, s"point hit decoded $decoded chunks, $surviving survived")
    c.dropStore()
  }

  test("the executed plan names the scan a driver answer replaced and what it decoded") {
    val c = typedStore(300)
    val q = spark.read.format("graft").load(c.root).where(col("i32") === 5).select("s")
    val p = plan(q)
    assert(Seq("GraftLocalScan", s"GraftScan root=${c.root}", "PushedFilters: [EqualTo(i32,5)]",
      "AnsweredOnDriver: rows=8, chunks=").forall(p.contains), p)
    assert(q.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      .contains("AnsweredOnDriver"))
    c.dropStore()
  }
}
