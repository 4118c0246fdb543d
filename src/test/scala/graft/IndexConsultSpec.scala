package graft

import graft.api._
import graft.index.{Index, RowIds}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Index consults answered on the driver (footer-pruned reads of the index
  * runs, Spark's predicate over the kept rows) against the distributed
  * index read they replace, and index runs built on the driver against the
  * distributed sort they replace, over every value type and index shape.
  */
class IndexConsultSpec extends AnyFunSuite {
  import SparkTestBase._

  private val nan = Double.NaN
  private val fnan = Float.NaN
  private val doubles = Seq(nan, -0.0, 0.0, Double.PositiveInfinity,
    Double.NegativeInfinity, 1.5, -2.25, 3.0, 1e300)
  private val strings = Seq("", "a", "ab", "b", "é", "日本", "zz", "ÿ", "a\u0000")
  private val bins: Seq[Array[Byte]] =
    Seq(Array(), Array(0), Array(1, 2), Array(-1), Array(-128, 5), Array(127))

  /** Every indexable type, with ties, NaN, ±0.0, ±Inf and non-ASCII. */
  private val cols: Seq[(String, DataType, Int => Any)] = Seq(
    ("i64", LongType, i => if (i % 97 == 0) Long.MaxValue else (i * 7919L) % 41 - 20),
    ("i32", IntegerType, i => (i * 31) % 37 - 18),
    ("i16", ShortType, i => ((i * 17) % 29 - 14).toShort),
    ("f64", DoubleType, i => if (i % 13 < 9) doubles((i * 5) % 9) else (i % 23) * 0.5 - 5),
    ("f32", FloatType, i =>
      if (i % 13 < 9) doubles((i * 5) % 9).toFloat else (i % 23) * 0.5f - 5),
    ("b", BooleanType, i => i % 3 == 0),
    ("s", StringType, i => strings((i * 7) % strings.size)),
    ("bin", BinaryType, i => bins((i * 5) % bins.size)))

  /** Probe literals per column: present, absent, extreme and cross-typed. */
  private val probes: Map[String, Seq[Any]] = Map(
    "i64" -> Seq(-21L, -20L, -3L, 0L, 20L, Long.MaxValue, 2.5),
    "i32" -> Seq(-19, -18, 0, 7, 18, 19L),
    "i16" -> Seq((-14).toShort, 0.toShort, 3.toShort, 14.toShort, 100),
    "f64" -> Seq(nan, -0.0, 0.0, Double.PositiveInfinity, Double.NegativeInfinity, 1.5, 2.0),
    "f32" -> Seq(fnan, -0.0f, 0.0f, Float.PositiveInfinity, Float.NegativeInfinity, 1.5f, -2.0f),
    "b" -> Seq(true, false),
    "s" -> Seq("", "a", "é", "日本", "zzz", "ÿ"),
    "bin" -> Seq(Array[Byte](), Array[Byte](0), Array[Byte](-1), Array[Byte](1, 3)))

  private def rows(from: Int, until: Int): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize((from until until).map(i => Row(cols.map(_._3(i)): _*)), 3),
    StructType(cols.map { case (n, t, _) => StructField(n, t, nullable = false) }))

  /** Facade calls with the filters the distributed branch must agree on. */
  private def cases(c: Columns, name: String): Seq[(String, () => DataFrame, Seq[Filter])] = {
    val gc = c(name)
    val ps = probes(name)
    val single = ps.flatMap { v => Seq(
      (s"> $v", () => gc > v, sources.GreaterThan(name, v)),
      (s">= $v", () => gc >= v, sources.GreaterThanOrEqual(name, v)),
      (s"< $v", () => gc < v, sources.LessThan(name, v)),
      (s"<= $v", () => gc <= v, sources.LessThanOrEqual(name, v)),
      (s"=== $v", () => gc === v, sources.EqualTo(name, v)),
      (s"=!= $v", () => gc =!= v, sources.Not(sources.EqualTo(name, v))))
    }.map { case (d, f, x) => (d, f, Seq(x)) }
    val pairs = ps.zip(ps.drop(1) :+ ps.head)
    val betweens = for ((lo, hi) <- pairs; iv <- Seq("[]", "[)", "(]", "()")) yield {
      val l = if (iv(0) == '[') sources.GreaterThanOrEqual(name, lo) else sources.GreaterThan(name, lo)
      val h = if (iv(1) == ']') sources.LessThanOrEqual(name, hi) else sources.LessThan(name, hi)
      (s"between $lo $hi $iv", () => gc.between(lo, hi, iv), Seq(l, h))
    }
    // past Spark's IN-to-set threshold (10 values) the list is a hash set
    val long = (0 until 40).map(i => cols.find(_._1 == name).get._3(i)) ++ ps
    val ins = Seq(ps.take(2), ps.takeRight(3), Seq(ps.head), long).map(vs =>
      (s"matchIn $vs", () => gc.matchIn(vs), Seq(sources.In(name, vs.toArray): Filter)))
    single ++ betweens ++ ins
  }

  /** Every case: the facade answers on the driver (a local frame, Spark's
    * (value, row_id) order), and its ids equal the distributed branch's.
    */
  private def assertAgree(c: Columns, state: String): Unit = cols.foreach { case (name, _, _) =>
    val cs = cases(c, name)
    val inOrder = Index.table(spark, c.store, name).orderBy(Index.ValueCol, Index.RowIdCol)
      .collect().map(_.getLong(1))
    val distributed = cs.zipWithIndex.map { case ((_, _, fs), i) =>
      val df = Index.lookup(spark, c.store, name, fs, bound = -1) match {
        case Right(d) => d
        case Left(_) => fail(s"$state $name: bound -1 still answered on the driver")
      }
      df.select(org.apache.spark.sql.functions.lit(i).as("case"), col(Index.RowIdCol))
    }.reduce(_ union _).collect().groupBy(_.getInt(0))
      .map { case (i, rs) => i -> rs.map(_.getLong(1)).toSet }
    cs.zipWithIndex.foreach { case ((desc, facade, _), i) =>
      val df = facade()
      assert(df.queryExecution.analyzed.isInstanceOf[LocalRelation],
        s"$state $name $desc: not answered on the driver")
      val got = df.collect().map(_.getLong(0)).toSeq
      val want = distributed.getOrElse(i, Set.empty[Long])
      assert(got.toSet == want && got.size == want.size,
        s"$state $name $desc: driver ${got.sorted} vs distributed ${want.toSeq.sorted}")
      assert(got == inOrder.filter(want).toSeq, s"$state $name $desc: not in (value, row_id) order")
    }
  }

  test("driver and distributed consults agree: every predicate and type, with gens and merged") {
    val c = Columns.fromDataFrame(spark, tmpDir("graft-consult"), rows(0, 400))
    cols.foreach { case (n, _, _) => c(n).createIndex() }
    c.append(rows(400, 420))
    c.append(rows(420, 450))
    cols.foreach { case (n, _, _) =>
      assert(Index.deltaGens(c.store, n).size == 2, s"$n: expected base + 2 gens") }
    assertAgree(c, "base+2 gens")
    // a third delta past maxDeltaGens = 2 merges every gen into one
    c.store.append(spark, rows(450, 470), graft.store.AsIs, lineage = "consult:merge")
    cols.foreach { case (n, _, _) =>
      Index.refresh(spark, c.store, n, maxDeltaGens = 2)
      assert(Index.deltaGens(c.store, n).size == 1, s"$n: expected one merged gen")
    }
    assertAgree(c, "merged gen")
    // top-N: the driver merge of the runs picks HEAD's distributed rows
    // (value order, ties by ascending row id), for every type
    for ((n, _, _) <- cols; desc <- Seq(false, true); k <- Seq(1, 3, 17, 500)) {
      val driver = Index.topN(spark, c.store, n, desc, k)
      val sparkSorted = Index.topN(spark, c.store, n, desc, k, bound = -1)
      assert(driver.toSeq == sparkSorted.toSeq, s"topN $n desc=$desc k=$k")
    }
    c.dropStore()
  }

  test("footer pruning: a selective consult reads few row groups; NaN-bearing groups stay") {
    // small row groups (parquet checks the size every >= 100 rows), so each
    // index run file holds many groups with their own footer min/max
    spark.conf.set("parquet.block.size", "2048")
    val n = 4000
    val schema = StructType(Seq(StructField("x", DoubleType, nullable = false)))
    val vals = (0 until n).map(i => if (i % 500 == 7) Double.NaN else ((i * 7919L) % n) * 0.25)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-consult-groups"), spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(Row(_)), 4), schema))
    try c("x").createIndex() finally spark.conf.unset("parquet.block.size")
    val base = Index.basePath(c.store, "x")
    val groups = graft.index.RunFile.files(base).map { f =>
      val r = new graft.index.RunFile(s"$base/$f"); try r.groups finally r.close() }.sum
    assert(groups >= 10, s"expected many row groups, got $groups")
    def agree(fs: Seq[Filter], want: Set[Long]): Unit = {
      // answered on the driver although the index holds 4000 rows: the
      // footers kept at most 600 of them
      val got = Index.lookup(spark, c.store, "x", fs, bound = 600) match {
        case Left(ids) => ids.toSet
        case Right(_) => fail(s"$fs: footers kept more than 600 rows")
      }
      assert(got == want, s"$fs")
    }
    def ids(p: Double => Boolean): Set[Long] = vals.indices.filter(i => p(vals(i))).map(_.toLong).toSet
    agree(Seq(sources.EqualTo("x", 100.25)), ids(_ == 100.25))
    agree(Seq(sources.GreaterThanOrEqual("x", 10.0), sources.LessThan("x", 20.0)),
      ids(v => v >= 10.0 && v < 20.0))
    // every finite value is below 1000, but NaN sorts above all of them: the
    // NaN rows' group must survive although its footer max is finite
    agree(Seq(sources.GreaterThan("x", 1000.0)), ids(_.isNaN))
    // ascending ids when value order is not asked for
    val unordered = Index.lookup(spark, c.store, "x", Seq(sources.LessThan("x", 50.0)),
      valueOrder = false).left.getOrElse(fail("not answered on the driver")).toSeq
    assert(unordered == ids(_ < 50.0).toSeq.sorted)
    c.dropStore()
  }

  test("top-N on the driver breaks ties by row id when they span row groups and files") {
    // small row groups, and a run split over several files of 1000 rows
    spark.conf.set("parquet.block.size", "2048")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1000")
    val n = 6000
    val schema = StructType(Seq(StructField("v", LongType, nullable = false)))
    def df(from: Int, until: Int) = spark.createDataFrame(spark.sparkContext.parallelize(
      (from until until).map(i => Row(i % 3L)), 4), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-consult-ties"), df(0, n))
    try {
      c("v").createIndex()
      c.append(df(n, n + 700))
      c.append(df(n + 700, n + 1500))
    } finally {
      spark.conf.unset("parquet.block.size")
      spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
    val base = Index.basePath(c.store, "v")
    val files = graft.index.RunFile.files(base)
    val groups = files.map { f =>
      val r = new graft.index.RunFile(s"$base/$f"); try r.groups finally r.close() }.sum
    assert(files.size >= 2 && groups >= 10, s"expected ties across groups: $files, $groups")
    for (desc <- Seq(true, false); k <- Seq(1, 5, 300, 2100)) {
      val driver = Index.topN(spark, c.store, "v", desc, k)
      val sparkSorted = Index.topN(spark, c.store, "v", desc, k, bound = -1)
      assert(driver.toSeq == sparkSorted.toSeq, s"topN desc=$desc k=$k")
    }
    c.dropStore()
  }

  test("DSv2 routed scans and top-N with gens present return the unrouted rows") {
    val n = 4000
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", LongType, nullable = false)))
    def df(from: Int, until: Int) = spark.createDataFrame(spark.sparkContext.parallelize(
      (from until until).map(i => Row(i.toLong, (i * 7919L) % 997)), 4), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-consult-dsv2"), df(0, n),
      graft.store.ByKey("id", 8), chunkRows = 50)
    c("v").createIndex()
    c.append(df(n, n + 300))
    c.append(df(n + 300, n + 500))
    assert(Index.deltaGens(c.store, "v").size == 2)
    def read(useIndex: Boolean) =
      spark.read.format("graft").option("useIndex", useIndex.toString).load(c.root)
    Seq(col("v") >= 300L && col("v") <= 310L, col("v") === 5L,
      col("v").isin(1L, 500L, 996L), col("v") > 990L).foreach { p =>
      val routed = read(useIndex = true).where(p).select("id", "v")
      val plan = routed.queryExecution.executedPlan.toString
      assert(plan.contains("IndexRouted: [v]"), s"$p not routed:\n$plan")
      val want = read(useIndex = false).where(p).select("id", "v").collect().toSet
      assert(want.nonEmpty && routed.collect().toSet == want, s"$p")
    }
    // values only: rows tied at the k-th value may be any of the ties
    Seq(col("v").desc, col("v").asc).foreach { o =>
      Seq(1, 7, 40).foreach { k =>
        val q = read(useIndex = true).orderBy(o).limit(k)
        assert(q.queryExecution.executedPlan.toString.contains("TopNPushed"), s"$o $k")
        val want = read(useIndex = false).orderBy(o).limit(k).collect().map(_.getLong(1)).toSeq
        assert(q.collect().map(_.getLong(1)).toSeq == want, s"top-$k by $o")
      }
    }
    c.dropStore()
  }

  // the default build writes a run this small on the driver; bound -1
  // forces the distributed sort's Parquet commit
  for ((suffix, bound) <- Seq(("", Index.DriverRows), (" (distributed-written run)", -1)))
  test("a corrupted index run fails the consult; a routed scan falls back, then routes again" +
      suffix) {
    val n = 4000
    val schema = StructType(Seq(StructField("v", LongType, nullable = false)))
    val c = Columns.fromDataFrame(spark, tmpDir("graft-consult-crc"), spark.createDataFrame(
      spark.sparkContext.parallelize((0 until n).map(i => Row((i * 7919L) % n)), 4), schema),
      chunkRows = 50)
    Index.create(spark, c.store, "v", overwrite = false, bound)
    val base = Index.basePath(c.store, "v")
    val part = graft.index.RunFile.files(base).head
    // the checksummed local FS verifies every read against this sidecar
    assert(new java.io.File(s"$base/.$part.crc").isFile, s"no .crc sidecar for $part")
    val file = new java.io.RandomAccessFile(s"$base/$part", "rw")
    def flip(): Unit = { file.seek(100); val b = file.read(); file.seek(100); file.write(b ^ 0x5a) }
    def plannedChunks(): Int = {
      val b = new graft.sources.GraftScanBuilder(c.root)
      // a range, not an equality: the membership filters, tested at
      // planning, would narrow an equality with no index at all
      b.pushFilters(Array(sources.GreaterThanOrEqual("v", 1234L),
        sources.LessThanOrEqual("v", 1234L)))
      b.build().asInstanceOf[graft.sources.GraftScan].planInputPartitions()
        .map(_.asInstanceOf[graft.sources.GraftInputPartition]
          .unit.colChunks.valuesIterator.map(_.size).sum).sum
    }
    try {
      flip()
      val e = intercept[Exception](c("v") >= 0L)
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]),
        s"expected a checksum error, got $chain")
      assert(plannedChunks() == n / 50, "a failed consult must fall back to zone maps")
      flip() // repaired: the failure was not cached, so the next planning routes
      assert(plannedChunks() <= 3)
      assert(c("v").===(1234L).collect().map(_.getLong(0)).toSeq.size == 1)
    } finally file.close()
    c.dropStore()
  }

  test("gather's small path: each row once, and one Spark job for an indexed gather") {
    val schema = StructType(Seq(
      StructField("x", LongType, nullable = false),
      StructField("y", StringType, nullable = false)))
    val c = Columns.fromDataFrame(spark, tmpDir("graft-consult-gather"), spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 200).map(i => Row(i % 50L, s"y$i")), 2), schema))
    c("x").createIndex()
    def got(ids: DataFrame): Seq[Long] =
      c.gather(ids, Seq("y")).collect().map(_.getLong(0)).sorted.toSeq
    import spark.implicits._
    assert(got(Seq(7L, 3L, 7L, 7L, 150L, 3L).toDF("i")) == Seq(3L, 7L, 150L))
    assert(got(Seq(9, 2, 9, 199).toDF("i")) == Seq(2L, 9L, 199L))
    assert(got(RowIds.or(c("x") === 4L, c("x") === 4L)) == Seq(4L, 54L, 104L, 154L))

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def settle(): Unit = { // listener events are async: poll until stable
      var last = -1
      var same = 0
      var spins = 0
      while (same < 3 && spins < 50) {
        val v = jobs.get()
        if (v == last) same += 1 else { same = 0; last = v }
        Thread.sleep(100)
        spins += 1
      }
    }
    val sc = spark.sparkContext
    settle()
    sc.addSparkListener(listener)
    try {
      settle()
      jobs.set(0)
      // the read itself forced past the driver bound: a small one is
      // answered on the driver with no job at all (DriverReadSpec)
      val out = graft.store.Decode.driverBound.withValue((0L, 0L)) {
        c.gather(c("x") === 17L, Seq("y")).collect()
      }
      settle()
      assert(out.map(_.getString(1)).sorted.toSeq == Seq("y117", "y167", "y17", "y67"))
      assert(jobs.get() == 1, s"indexed gather launched ${jobs.get()} jobs")
    } finally sc.removeSparkListener(listener)
    c.dropStore()
  }

  /** Every run of `name`'s effective meta as its (value, row_id) rows in
    * file order — floats as raw bits, so NaN and ±0.0 compare exactly — and
    * its row groups' footer stats.
    */
  private def runs(store: graft.store.ColumnStore, name: String)
      : Seq[(Seq[(Any, Long)], Seq[Option[(Int, Long, Long)]])] = {
    val d = Index.dir(store, name)
    val m = Index.readMeta(store, name)
    val dt = cols.find(_._1 == name).get._2
    (m.base +: m.gens.map(_._1)).map { r =>
      val files = graft.index.RunFile.files(s"$d/$r")
      assert(files.nonEmpty, s"run $r of $name has no file")
      val rows = mutable.ArrayBuffer.empty[(Any, Long)]
      val stats = mutable.ArrayBuffer.empty[Option[(Int, Long, Long)]]
      files.foreach { f =>
        val rf = new graft.index.RunFile(s"$d/$r/$f")
        try (0 until rf.groups).foreach { g =>
          stats += rf.stats(g)
          rf.foreach(g, dt) { (v, id) =>
            val k = v match {
              case x: Double => java.lang.Double.doubleToRawLongBits(x)
              case x: Float => java.lang.Float.floatToRawIntBits(x)
              case x: Array[Byte] => x.toSeq
              case x => x.toString
            }
            rows += ((k, id))
          }
        } finally rf.close()
      }
      (rows.toSeq, stats.toSeq)
    }
  }

  test("driver-built and distributed runs agree: create, deltas, merge and quarter rebuild") {
    val driver = Columns.fromDataFrame(spark, tmpDir("graft-build-driver"), rows(0, 400))
    val spread = Columns.fromDataFrame(spark, tmpDir("graft-build-spark"), rows(0, 400))
    def step(state: String)(op: (Columns, Int) => Unit): Unit = {
      op(driver, Index.DriverRows)
      op(spread, -1)
      cols.foreach { case (n, _, _) =>
        val (a, b) = (Index.readMeta(driver.store, n), Index.readMeta(spread.store, n))
        assert((a.rows, a.version, a.gens.map(_._2)) == (b.rows, b.version, b.gens.map(_._2)),
          s"$state $n: metas differ")
        val (ra, rb) = (runs(driver.store, n), runs(spread.store, n))
        assert(ra.map(_._1) == rb.map(_._1), s"$state $n: (value, row_id) sequences differ")
        // footer min/max (string-annotated for s) as Spark's write records them
        assert(ra.map(_._2) == rb.map(_._2), s"$state $n: footer stats differ")
        if (n == "i64" || n == "s")
          assert(ra.flatMap(_._2).forall(_.isDefined), s"$state $n: no footer stats")
      }
    }
    def append(from: Int, until: Int, maxGens: Int = 8)(c: Columns, bound: Int): Unit = {
      c.store.append(spark, rows(from, until))
      cols.foreach { case (n, _, _) => Index.refresh(spark, c.store, n, maxGens, bound) }
    }
    step("create")((c, bound) =>
      cols.foreach { case (n, _, _) => Index.create(spark, c.store, n, overwrite = false, bound) })
    step("delta")(append(400, 420))
    step("second delta")(append(420, 450))
    step("merge")(append(450, 470, maxGens = 2))
    cols.foreach { case (n, _, _) => assert(Index.deltaGens(driver.store, n).size == 1, n) }
    assertReadsAgree(driver, spread, "merged gen")
    step("quarter rebuild")(append(470, 700))
    cols.foreach { case (n, _, _) => assert(Index.deltaGens(driver.store, n).isEmpty, n) }
    assertReadsAgree(driver, spread, "rebuilt")
    // a fresh delta-free index streams the ordered read in index order
    cols.foreach { case (n, _, _) =>
      def ordered(c: Columns) = c.readOrdered(n, Seq(n)).collect().map(_.getLong(0)).toSeq
      assert(ordered(driver) == ordered(spread), s"readOrdered $n")
    }
    driver.dropStore()
    spread.dropStore()
  }

  /** Consults, top-N and DSv2 routed scans over two stores of the same
    * rows, one with driver-built runs, return the same rows.
    */
  private def assertReadsAgree(a: Columns, b: Columns, state: String): Unit = {
    cols.foreach { case (n, _, _) =>
      cases(a, n).zip(cases(b, n)).foreach { case ((desc, fa, _), (_, fb, _)) =>
        assert(fa().collect().map(_.getLong(0)).toSeq == fb().collect().map(_.getLong(0)).toSeq,
          s"$state $n $desc")
      }
      for (desc <- Seq(false, true); k <- Seq(1, 17, 500))
        assert(Index.topN(spark, a.store, n, desc, k).toSeq ==
          Index.topN(spark, b.store, n, desc, k).toSeq, s"$state topN $n desc=$desc k=$k")
    }
    val shown = cols.map(_._1).filterNot(_ == "bin").map(col)
    Seq(col("i64").between(-3L, 5L), col("s") === "é", col("f64") > 1.0, col("b") === true,
        col("i16") < 0.toShort, col("f32") === Float.NaN).foreach { p =>
      def routed(c: Columns) = {
        val q = spark.read.format("graft").load(c.root).where(p).select(shown: _*)
        assert(q.queryExecution.executedPlan.toString.contains("IndexRouted"), s"$state $p not routed")
        q.collect().map(_.toString).sorted.toSeq
      }
      assert(routed(a) == routed(b), s"$state routed $p")
    }
  }

  /** Spark jobs started while `body` runs, with their descriptions. */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descs.add(Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def settle(): Unit = { // listener events are async: poll until stable
      var last = -1
      var same = 0
      var spins = 0
      while (same < 3 && spins < 50) {
        val v = descs.size
        if (v == last) same += 1 else { same = 0; last = v }
        Thread.sleep(100)
        spins += 1
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try { settle(); descs.clear(); body; settle() }
    finally sc.removeSparkListener(listener)
    descs.toArray(Array.empty[String]).toSeq
  }

  test("a small build, refresh and merge run no Spark job; the refresh decodes only new chunks") {
    val schema = StructType(Seq(StructField("v", LongType, nullable = false)))
    def df(from: Int, until: Int) = spark.createDataFrame(spark.sparkContext.parallelize(
      (from until until).map(i => Row((i * 7919L) % 1000)), 2), schema)
    val c = Columns.fromDataFrame(spark, tmpDir("graft-build-jobs"), df(0, 3000), chunkRows = 100)
    var newChunks, decoded = 0L
    val jobs = jobsDuring {
      c("v").createIndex()
      c.store.append(spark, df(3000, 3250))
      c.store.append(spark, df(3250, 3300))
      val snap = c.store.snapshot
      newChunks = snap.segments.takeRight(2)
        .map(s => snap.partManifests(s).map(_.chunks.size.toLong).sum).sum
      // the two appends refresh as one delta of 300 rows
      val before = graft.store.Decode.chunksRead.get()
      Index.refresh(spark, c.store, "v")
      decoded = graft.store.Decode.chunksRead.get() - before
      // past the cap of one gen, the next refresh merges
      c.store.append(spark, df(3300, 3320))
      Index.refresh(spark, c.store, "v", maxDeltaGens = 1)
    }
    assert(jobs.nonEmpty && jobs.forall(_.startsWith("graft: append")),
      s"index jobs launched: $jobs")
    assert(decoded == newChunks, s"refresh decoded $decoded chunks, not the $newChunks new ones")
    assert(Index.deltaGens(c.store, "v").size == 1)
    assert(Index.table(spark, c.store, "v").count() == 3320L)
    assert(RowIds.collectSorted(c("v") === 13L).toSeq ==
      (0 until 3320).filter(i => (i * 7919L) % 1000 == 13).map(_.toLong))
    c.dropStore()
  }
  test("an empty store's build writes a readable zero-row run, on either path") {
    for (bound <- Seq(Index.DriverRows, -1)) {
      val store = graft.store.ColumnStore.create(tmpDir("graft-build-empty"),
        graft.store.ColumnStore.specFromSchema(StructType(Seq(
          StructField("s", StringType, nullable = false)))))
      Index.create(spark, store, "s", overwrite = false, bound)
      val base = Index.basePath(store, "s")
      assert(graft.index.RunFile.files(base).nonEmpty, s"bound $bound: no run file")
      assert(Index.table(spark, store, "s").count() == 0L)
      assert(Index.consult(spark, store, "s", Seq(sources.GreaterThan("s", ""))).count() == 0L)
      assert(Index.topN(spark, store, "s", desc = true, 5).isEmpty)
      assert(Index.routableFor(store.snapshot, "s"))
      store.dropStore()
    }
  }

  test("a run past the driver byte bound is built by Spark") {
    // 33 rows of 512 KiB strings: far under DriverRows, over DriverBytes
    val wide = 33
    val schema = StructType(Seq(StructField("s", StringType, nullable = false)))
    val c = Columns.fromDataFrame(spark, tmpDir("graft-build-wide"), spark.createDataFrame(
      spark.sparkContext.parallelize((0 until wide).map(i =>
        Row(s"${(wide - i) % 7}" * (1 << 19))), 2), schema))
    assert(c.store.colRawBytes("s") > Index.DriverBytes)
    val jobs = jobsDuring(c("s").createIndex())
    assert(jobs.contains("graft: index build s"), s"expected the distributed build: $jobs")
    assert(RowIds.collectSorted(c("s") === "3" * (1 << 19)).toSeq ==
      (0 until wide).filter(i => (wide - i) % 7 == 3).map(_.toLong))
    c.dropStore()
  }

  test("an index built from a store snapshot older than the store is not routable") {
    val schema = StructType(Seq(StructField("v", LongType, nullable = false)))
    for (bound <- Seq(Index.DriverRows, -1)) {
      val c = Columns.fromDataFrame(spark, tmpDir("graft-build-stamp"), spark.createDataFrame(
        spark.sparkContext.parallelize((0 until 500).map(i => Row(i.toLong)), 2), schema))
      // a second handle opened before the update still sees it: every handle
      // reads the store's newest version
      val old = graft.store.ColumnStore.open(c.root)
      c("v").update(Seq(3L), Seq(-3L))
      assert(old.snapshot.version == c.store.snapshot.version)
      Index.create(spark, old, "v", overwrite = false, bound)
      assert(Index.routableFor(c.store.snapshot, "v"),
        s"bound $bound: fresh index not routable")
      assert(RowIds.collectSorted(c("v") === -3L).toSeq == Seq(3L))
      // an update published after the build leaves the index older than the
      // store's last update
      graft.store.Mutate.update(spark, c.store, "v", Array(4L), Array(-4L: Any))
      assert(!Index.routableFor(c.store.snapshot, "v"),
        s"bound $bound: stale index routable")
      // the stale index forces a rebuild, which sees the update
      Index.refresh(spark, c.store, "v", maxDeltaGens = 8, bound)
      assert(Index.routableFor(c.store.snapshot, "v"))
      assert(RowIds.collectSorted(c("v") === -4L).toSeq == Seq(4L))
      c.dropStore()
    }
  }
}
