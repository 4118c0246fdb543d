package graft

import graft.api._
import graft.codec.PType
import graft.functions.GraftFunctions
import graft.index.RowIds
import graft.pipeline.{Dedup, Similarity, TextStats, Multimodal}
import graft.store._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract (see builder prompt + SURVEY.md §7): one `queries` entry
  * per implemented operator family, each with an equivalent DuckDB oracle
  * where SQL-expressible. Store-backed queries run end-to-end through the
  * graft engine (encode → chunk files → manifest → decode/index) and their
  * oracles run plain SQL on the SAME source parquet — equality proves the
  * engine's round-trip + query semantics.
  */
object SparkEntry {

  /** Input tables come through the TableIO seam (north rule: Iceberg; in
    * this sandbox the same schema as Parquet — swap the URI prefix to
    * `iceberg:` where the runtime jar exists).
    */
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.TableIO.load(spark, s"$dir/$name.parquet")

  // ------------------------------------------------------------- stores

  /** Base document store per sf dir (built once per JVM): documents written
    * through the engine with range partitioning on doc_id, indexed on
    * n_chars and lang. row_id == rank by doc_id == doc_id here.
    */
  private object Stores {
    private val cache = scala.collection.mutable.HashMap.empty[String, Columns]

    def base(spark: SparkSession, dir: String): Columns = synchronized {
      cache.getOrElseUpdate(dir, {
        val root = s"/tmp/graft-qstore/${dir.replaceAll("[^a-zA-Z0-9.]", "_")}/base"
        FsIO.delete(root, recursive = true)
        // chunkRows 512: enough chunks per partition that indexed gathers
        // demonstrably decode a strict subset (p3_gather_pruned evidence)
        val c = Columns.fromDataFrame(spark, root, t(spark, dir, "documents"),
          ByKey("doc_id", 4), chunkRows = 512, lineage = s"parquet:$dir/documents")
        c("n_chars").createIndex()
        c("lang").createIndex()
        c
      })
    }

    /** Fresh throwaway store for mutation queries. */
    def fresh(spark: SparkSession, dir: String): Columns = {
      val root = s"/tmp/graft-qstore/tmp-${java.util.UUID.randomUUID().toString.take(12)}"
      Columns.fromDataFrame(spark, root, t(spark, dir, "documents"),
        ByKey("doc_id", 4), lineage = s"parquet:$dir/documents")
    }
  }

  /** One-time setup for a sf dir (store encode + index builds), exposed so
    * Bench can attribute it separately from query timings.
    */
  def warm(spark: SparkSession, dir: String): Unit = {
    Stores.base(spark, dir)
    ()
  }

  /** documents ∪ clones of doc_id<5 shifted by +1000000 — plants exact
    * duplicates so near-dup oracles have a closed-form answer.
    */
  private def docsWithClones(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    d.unionAll(d.where(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + lit(1000000L)))
  }

  /** embeddings ∪ angularly perturbed clones of vec_id<12: v' = v + c·w
    * with w = ±1 alternating by (vec_id + i) parity and c stepped by
    * vec_id%4 over {0.02, 0.03, 0.055, 0.07} — deterministic, expressible
    * identically in DuckDB (margins to the 0.95 threshold ≥ 0.02, so float
    * rounding and sum order cannot flip membership). Creates real 0.87-0.99
    * near-dup structure: ~half the planted pairs sit ABOVE 0.95, half are
    * near-misses below — the embeddings table itself has no pairs ≥ 0.9.
    */
  private def embWithNearDups(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val c = when(col("vec_id") % 4 === 0, 0.02)
      .when(col("vec_id") % 4 === 1, 0.03)
      .when(col("vec_id") % 4 === 2, 0.055)
      .otherwise(0.07)
    val rest = e.columns.filterNot(Set("vec_id", "embedding")).map(col).toSeq
    val pert = e.where(col("vec_id") < 12).select(
      (col("vec_id") + lit(1000000L)).as("vec_id") +:
      transform(col("embedding"), (x, i) =>
        (x.cast("double") + c * when(((col("vec_id") + i) % 2) === 0, 1.0)
          .otherwise(-1.0)).cast("float")).as("embedding") +: rest: _*)
    e.select((col("vec_id") +: col("embedding") +: rest): _*).unionAll(pert)
  }

  /** embeddings ∪ 8 perturbed clones of vec 0 (ids 2000000+m, m=0..7):
    * v' = v + 0.005·(m+1)·w_m, w_m = ±1 by (m+i) parity — near neighbors
    * at cosines ~0.999 down to ~0.955 for the ANN queries, deterministic
    * and DuckDB-expressible like embWithNearDups.
    */
  private def annCorpus(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val rest = e.columns.filterNot(Set("vec_id", "embedding")).map(col).toSeq
    val clones = e.where(col("vec_id") === 0)
      .select(explode(sequence(lit(0), lit(7))).as("m") +: col("embedding") +: rest: _*)
      .select((lit(2000000L) + col("m")).as("vec_id") +:
        transform(col("embedding"), (x, i) =>
          (x.cast("double") + lit(0.005) * (col("m") + 1) *
            when(((col("m") + i) % 2) === 0, 1.0).otherwise(-1.0))
            .cast("float")).as("embedding") +: rest: _*)
    e.select((col("vec_id") +: col("embedding") +: rest): _*).unionAll(clones)
  }

  /** Flagship: F1 token table through the full encode→decode path, checked
    * in-query (the store read must reproduce every token array bit-exactly).
    * Returns per-source stats of the ROUNDTRIPPED data; rows>0 only if the
    * store produced rows.
    */
  def entry(spark: SparkSession): DataFrame = {
    val root = s"/tmp/graft-qstore/entry-${java.util.UUID.randomUUID().toString.take(8)}"
    val ds = gen.TokenGen.dataset(spark, 5000L, 8)
    val c = Columns.fromDataFrame(spark, root, ds.toDF(),
      ByKeySalted("doc_id", 8, 4), lineage = "synth:f1:5000")
    val back = c.read()
    val out = back.groupBy(col("source")).agg(
      count(lit(1)).as("n_rows"),
      sum(size(col("tokens"))).as("n_tokens"),
      sum(aggregate(col("tokens"), lit(0L), (a, x) => a + x.cast("long"))).as("token_sum"))
      .orderBy("source")
    // collect before dropping the throwaway store (the frame is lazy over it)
    val rows = out.collect()
    c.dropStore()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  // ------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational heads over the raw parquet (Catalyst showcase) ---
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // sum in exact decimal (order-independent), surface as double so
          // both engines emit the identical IEEE value
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q3_join_topk" -> ((s, dir) => {
      val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      // dimension side broadcast; fact-fact join shuffles on the key
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast("double").as("rev"), count(lit(1)).as("n"))
        .orderBy(desc("rev"), asc("o_orderkey"))
        .limit(10)
    }),
    "q_window_first_event" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .orderBy("user_id")
    }),

    // --- store operator inventory (S/P/I/Q/C of SURVEY.md §2) ---
    "s2_roundtrip_scan" -> ((s, dir) =>
      Stores.base(s, dir).read(Seq("doc_id", "lang", "n_chars"))
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")),
    "p1_projection" -> ((s, dir) =>
      Stores.base(s, dir).read(Seq("n_chars"))
        .select(col("_row_id").as("rid"), col("n_chars")).orderBy("rid")),
    "p2_slice" -> ((s, dir) =>
      Stores.base(s, dir).read(Seq("doc_id"), Slice(100, 200))
        .select("doc_id").orderBy("doc_id")),
    "p2_slice_stepped" -> ((s, dir) =>
      Stores.base(s, dir).read(Seq("doc_id"), Slice(10, 300, 7))
        .select("doc_id").orderBy("doc_id")),
    "p2_slice_reversed" -> ((s, dir) =>
      // negative-step slice (util.py:60-90 arange semantics): rows
      // 299, 297, ..., 101; _pos pins the reversed request order
      Stores.base(s, dir).read(Seq("doc_id"), Slice(299, 99, -2))
        .select(col("_pos").as("pos"), col("doc_id")).orderBy("pos")),
    "p3_gather" -> ((s, dir) =>
      Stores.base(s, dir)
        .read(Seq("doc_id", "n_chars"), RowList((0L until 350L by 7L).toSeq))
        .select("doc_id", "n_chars").orderBy("doc_id")),
    "p3_gather_pruned" -> ((s, dir) => {
      // indexed gather decodes ONLY chunks containing hits: take the 100
      // lowest row-ids matching n_chars > 300 (row_id == doc_id rank, so
      // they cluster at the head of the table), plan the SelIds read, and
      // require the decoded-chunk count to be a strict subset of the store
      val c = Stores.base(s, dir)
      val ids = c("n_chars").>(300L)
        .orderBy("row_id").limit(100).collect().map(_.getLong(0)).sorted
      val sel = SelIds(ids, Array.tabulate(ids.length)(_.toLong))
      val (units, _) = c.store.planUnits(Seq("doc_id"), sel)
      val chunksRead = units.iterator.map(_.colChunks.valuesIterator.map(_.size).sum).sum
      val (unitsAll, _) = c.store.planUnits(Seq("doc_id"), SelAll)
      val chunksTotal = unitsAll.iterator.map(_.colChunks.valuesIterator.map(_.size).sum).sum
      require(chunksRead * 2 <= chunksTotal,
        s"indexed gather should decode a strict subset: $chunksRead of $chunksTotal chunks")
      import s.implicits._
      c.gather(s.createDataset(ids.toSeq).toDF("_row_id"), Seq("doc_id"))
        .select("doc_id").orderBy("doc_id")
    }),
    "p4_point" -> ((s, dir) =>
      Stores.base(s, dir).read(Seq("doc_id", "lang"), RowAt(42))
        .select("doc_id", "lang")),
    "s7_append_two_segments" -> ((s, dir) => {
      val root = s"/tmp/graft-qstore/append-${java.util.UUID.randomUUID().toString.take(12)}"
      val docs = t(s, dir, "documents")
      val c = Columns.fromDataFrame(s, root, docs, ByKey("doc_id", 2))
      c.append(docs, ByKey("doc_id", 2))
      val out = c.read(Seq("n_chars"))
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
      val row = out.collect()(0)
      c.dropStore()
      s.createDataFrame(java.util.List.of(Row(row.getLong(0), row.getLong(1))),
        StructType(Seq(StructField("n", LongType), StructField("sum_chars", LongType))))
    }),
    "s6_fits_ingest" -> ((s, dir) => {
      // from_fits parity (convenience.py:7-127) without a FITS jar: the
      // documents table is exported to a real FITS BINTABLE (public format,
      // big-endian fixed-width records) and ingested back through the
      // DISTRIBUTED reader (row-range splits) into a graft store
      val base = s"/tmp/graft-qstore/fits-${java.util.UUID.randomUUID().toString.take(12)}"
      val fits = s"$base/documents.fits"
      graft.sources.Fits.writeBinTable(fits,
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"))
      val c = graft.sources.Fits.fromFits(s, s"$base/store", fits)
      val out = c.read(Seq("doc_id", "lang", "n_chars"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum("n_chars").cast(LongType).as("sum_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("lang")
      val rows = out.collect()
      FsIO.delete(base, recursive = true)
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    }),
    "p5_update_scatter" -> ((s, dir) => {
      val c = Stores.fresh(s, dir)
      c("n_chars").update((0L until 100L by 10L).toSeq, Seq(0L))
      val row = c.read(Seq("n_chars")).agg(sum("n_chars").as("sum_chars")).collect()(0)
      c.dropStore()
      s.createDataFrame(java.util.List.of(Row(row.getLong(0))),
        StructType(Seq(StructField("sum_chars", LongType))))
    }),
    "p5_update_bulk" -> ((s, dir) => {
      // MERGE-style distributed update: ids come from a query, values ride
      // a DataFrame through one shuffle — never through the driver
      val c = Stores.fresh(s, dir)
      val upd = c.read(Seq("lang")).where(col("lang") === "zh")
        .select(col("_row_id"), lit(0L).as("value"))
      c("n_chars").update(upd)
      val row = c.read(Seq("n_chars")).agg(sum("n_chars").as("sum_chars")).collect()(0)
      c.dropStore()
      s.createDataFrame(java.util.List.of(Row(row.getLong(0))),
        StructType(Seq(StructField("sum_chars", LongType))))
    }),
    "c5_vacuum_preserves" -> ((s, dir) => {
      val c = Stores.fresh(s, dir)
      c("n_chars").update((0L until 100L by 10L).toSeq, Seq(0L))
      val before = c.storageBytes
      c.vacuum()
      val shrunk = c.storageBytes <= before
      val row = c.read(Seq("n_chars")).agg(sum("n_chars").as("sum_chars")).collect()(0)
      c.dropStore()
      s.createDataFrame(java.util.List.of(Row(row.getLong(0), shrunk)),
        StructType(Seq(StructField("sum_chars", LongType), StructField("shrunk", BooleanType))))
    }),
    "dsv2_write_roundtrip" -> ((s, dir) => {
      // documents written through Spark's NATIVE writer API
      // (df.write.format("graft") -> DSv2 BatchWrite: per-task
      // PartitionEncoder, driver commit) and read back through the
      // connector — the reference's append surface (columns.py:603-634)
      // without touching the API facade
      val root = s"/tmp/graft-qstore/dsw-${java.util.UUID.randomUUID().toString.take(12)}"
      t(s, dir, "documents").write.format("graft").mode("append").save(root)
      val back = s.read.format("graft").load(root)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
        .orderBy("lang")
      val rows = back.collect()
      graft.store.FsIO.delete(root, recursive = true)
      s.createDataFrame(java.util.Arrays.asList(rows: _*), back.schema)
    }),
    "dsv2_scan_pushdown" -> ((s, dir) => {
      // same predicate through the DataSource V2 connector: Catalyst prunes
      // columns and pushes the filter into the zone-map chunk pruning.
      // useIndex=false isolates the ZONE-MAP mechanism (index routing has
      // its own query) — and a 40%-selectivity range over an unclustered
      // column is exactly where an index lookup buys nothing
      val c = Stores.base(s, dir)
      s.read.format("graft").option("useIndex", "false").load(c.root)
        .where(col("n_chars") > 300L).select("doc_id").orderBy("doc_id")
    }),
    "dsv2_string_filter" -> ((s, dir) => {
      // string predicate through DSv2: kind-3 prefix zone maps accept the
      // filter for pruning; residual re-application keeps it exact
      val c = Stores.base(s, dir)
      s.read.format("graft").option("useIndex", "false").load(c.root)
        .where(col("lang") === "en").select("doc_id", "lang").orderBy("doc_id")
    }),
    "dsv2_agg_pushdown" -> ((s, dir) => {
      // COMPLETE aggregate pushdown: count from the commit records, min/max
      // from the per-partition stat roll-ups — the plan must show the
      // metadata-only GraftAggScan; zero chunk reads at any table size
      val c = Stores.base(s, dir)
      val df = s.read.format("graft").load(c.root)
        .agg(count(lit(1)).as("n"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"),
          sum("n_chars").as("sum_chars"), sum("doc_id").as("sum_ids"))
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("AggPushed"), s"aggregate not pushed:\n$plan")
      df
    }),
    "dsv2_agg_filtered" -> ((s, dir) => {
      // FILTERED aggregate pushdown: the `_row_id` range filter is CONSUMED
      // by the scan (applied row-exactly via selection clipping), so Spark
      // offers the aggregate to the source; the 1024 boundary lands on the
      // 512-row chunk grid, so COUNT/SUM/MIN/MAX are provable from manifest
      // chunk stats alone — zero chunk reads, asserted in-query. row_id ==
      // doc_id in this store (range-partitioned by doc_id), which gives the
      // oracle a plain doc_id predicate.
      val c = Stores.base(s, dir)
      val before = graft.store.Decode.chunksRead.get()
      val df = s.read.format("graft").load(c.root)
        .where(col("_row_id") < 1024L)
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("AggPushed"), s"filtered aggregate not pushed:\n$plan")
      val rows = df.collect()
      require(graft.store.Decode.chunksRead.get() == before,
        "metadata-only filtered aggregate read chunks")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    }),
    "dsv2_index_routed" -> ((s, dir) => {
      // SQL users get the secondary index WITHOUT the API facade: the DSv2
      // scan consults the fresh n_chars index, compacts hits to row ranges
      // (adaptive granule), and intersects them with the zone-map selection
      // (residual filters keep it exact). The plan string must advertise
      // the route. A NARROW band (~2% selectivity) is the regime where an
      // index beats zone maps on unclustered data.
      val c = Stores.base(s, dir)
      val df = s.read.format("graft").load(c.root)
        .where(col("n_chars") >= 300L && col("n_chars") <= 310L).select("doc_id")
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("IndexRouted: [n_chars]"),
        s"index route missing from plan:\n$plan")
      df.orderBy("doc_id")
    }),
    "i1_q2_index_gt" -> ((s, dir) => {
      val c = Stores.base(s, dir)
      c.gather(c("n_chars") > 300L, Seq("doc_id")).select("doc_id").orderBy("doc_id")
    }),
    "dsv2_join_pruned" -> ((s, dir) => {
      // broadcast join over the STORE: the scan reports manifest statistics
      // so Catalyst broadcasts the dimension side, and the runtime-filter
      // surface (SupportsRuntimeFiltering + exact IN chunk pruning) lets
      // the build side prune fact chunks at execution when Spark injects a
      // join-key filter — correct either way, pruning is a perf contract
      val c = Stores.base(s, dir)
      val fact = s.read.format("graft").load(c.root)
      val dim = t(s, dir, "documents")
        .where(col("doc_id") % 100 === 0).select("doc_id")
      fact.join(broadcast(dim), "doc_id")
        .select("doc_id", "n_chars").orderBy("doc_id")
    }),
    "dsv2_point_unindexed" -> ((s, dir) => {
      // Point lookup WITHOUT an index — the reference's `match` RAISES here
      // (an index is mandatory, column.py:476-481,688), and a zone map over
      // an unclustered key prunes nothing. Per-chunk membership filters
      // (manifest v4, split-block bloom over each chunk's distinct values)
      // close the gap: the scan tests the probe hashes against each few-KB
      // filter and skips chunks that provably exclude them. The store is
      // written keyed by n_chars so doc_id is UNCLUSTERED — every chunk's
      // [min,max] doc_id envelope spans ~the whole table. The in-query
      // requires prove the mechanism: a miss probe rides along (decoding
      // nothing), and total decodes stay ≪ the chunk count.
      val root = s"/tmp/graft-qstore/pt-${java.util.UUID.randomUUID().toString.take(12)}"
      val docs = t(s, dir, "documents")
      val maxId = docs.agg(max("doc_id")).collect()(0).getLong(0)
      val c = Columns.fromDataFrame(s, root, docs, ByKey("n_chars", 4),
        chunkRows = 64, lineage = "point:docs")
      val g = s.read.format("graft").option("useIndex", "false").load(c.root)
      val probes = Seq(maxId / 3, 2 * maxId / 3, maxId + 1234567L)
      val before = graft.store.Decode.chunksRead.get()
      val skippedBefore = graft.store.Decode.chunksFilterSkipped.get()
      val out = g.where(col("doc_id").isin(probes.map(Long.box): _*))
        .select("doc_id", "lang", "n_chars")
      val rows = out.collect()
      val decoded = graft.store.Decode.chunksRead.get() - before
      val snap = c.store.snapshot
      val chunksTotal = snap.segments
        .flatMap(snap.partManifests).map(_.chunks.size).sum
      require(rows.length == 2, s"expected the two hit probes, got ${rows.length}")
      require(graft.store.Decode.chunksFilterSkipped.get() > skippedBefore,
        "membership filters never engaged")
      require(decoded * 4 <= chunksTotal,
        s"point lookup decoded $decoded of $chunksTotal chunks — filters not pruning")
      c.dropStore()
      s.createDataFrame(java.util.Arrays.asList(rows.sortBy(_.getLong(0)): _*),
        out.schema)
    }),
    "dsv2_ordered_scan" -> ((s, dir) => {
      // ORDER BY indexed-col WITHOUT a limit: the ordered scan streams the
      // table in index value order (one partition walking the index's
      // row_id column, batched chunk gathers), reports its ordering, and
      // the GraftExtensions stage-prep rule drops the Sort AND its range
      // exchange — the table is never shuffled or sorted. Monotonicity is
      // asserted in-query (the oracle's hash compare is order-insensitive);
      // a stale index would fall back to a real Sort, which the plan
      // require would catch.
      val c = Stores.base(s, dir)
      val df = s.read.format("graft").option("ordered", "n_chars").load(c.root)
        .select("n_chars").orderBy("n_chars")
      val rows = df.collect()
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("OrderedScan: n_chars ASC"),
        s"ordered mode did not engage:\n$plan")
      require(!plan.contains("Sort ["),
        s"ordered scan still planned a Sort:\n$plan")
      require(rows.indices.drop(1).forall(i =>
        rows(i - 1).getLong(0) <= rows(i).getLong(0)),
        "ordered scan emitted out-of-order rows")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    }),
    "dsv2_topn" -> ((s, dir) => {
      // ORDER BY indexed-col LIMIT k: the scan resolves the k row ids from
      // the value-sorted index and decodes only their chunks — no table
      // scan, no table sort (plan advertises TopNPushed). Values-only
      // output keeps ties deterministic for the oracle.
      val c = Stores.base(s, dir)
      val df = s.read.format("graft").load(c.root)
        .orderBy(col("n_chars").desc).limit(10).select("n_chars")
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("TopNPushed: n_chars DESC LIMIT 10"),
        s"topN not pushed:\n$plan")
      df.orderBy(col("n_chars").desc)
    }),
    "i5_index_incremental" -> ((s, dir) => {
      // Append to an INDEXED store: the auto-refresh must take the
      // INCREMENTAL path — sort only the new segment's rows into a delta
      // generation (the base sort's files untouched) — and lookups must see
      // rows from both generations. The in-query require proves the delta
      // engaged; the oracle proves the merged index answers exactly.
      val root = s"/tmp/graft-qstore/incr-${java.util.UUID.randomUUID().toString.take(12)}"
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val split = n - n / 5 // last fifth arrives as a later append
      val c = Columns.fromDataFrame(s, root, docs.where(col("doc_id") < split),
        ByKey("doc_id", 4), lineage = "incr:base")
      c("n_chars").createIndex()
      c.append(docs.where(col("doc_id") >= split), ByKey("doc_id", 2), "incr:tail")
      require(graft.index.Index.deltaGens(c.store, "n_chars").nonEmpty,
        "append did not take the incremental index path")
      val out = c.gather(c("n_chars").between(200L, 400L, "[]"), Seq("doc_id", "n_chars"))
        .select("doc_id", "n_chars").orderBy("doc_id")
      val rows = out.collect()
      c.dropStore()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    }),
    "pipeline_dedup_graft" -> ((s, dir) => {
      // Pipeline operator COMPOSED with the engine: exact dedup over a
      // graft-WRITTEN documents table read back through the DSv2 scan.
      // Catalyst must prune the scan to the two columns the dedup touches
      // (text, doc_id) — reading lang/source/n_chars for this plan would be
      // 60%+ wasted I/O at 100 TB.
      val root = s"/tmp/graft-qstore/dedup-${java.util.UUID.randomUUID().toString.take(12)}"
      docsWithClones(s, dir).write.format("graft").mode("append").save(root)
      val docs = s.read.format("graft").load(root)
      val out = Dedup.exact(docs).orderBy("keep_id")
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("GraftScan"), s"expected a GraftScan:\n$plan")
      require(!plan.contains("lang"),
        s"scan not pruned to (doc_id, text):\n$plan")
      val rows = out.collect()
      FsIO.delete(root, recursive = true)
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    }),
    "q3_between_intervals" -> ((s, dir) => {
      val c = Stores.base(s, dir)
      def cnt(interval: String): Long =
        c("n_chars").between(100L, 300L, interval).count()
      s.createDataFrame(
        java.util.List.of(Row(cnt("[]"), cnt("[)"), cnt("(]"), cnt("()"))),
        StructType(Seq("cnt_cc", "cnt_co", "cnt_oc", "cnt_oo")
          .map(StructField(_, LongType))))
    }),
    "q4_match_in" -> ((s, dir) => {
      val c = Stores.base(s, dir)
      c.gather(c("lang").matchIn(Seq("en", "fr")), Seq("doc_id", "lang"))
        .select("doc_id", "lang").orderBy("doc_id")
    }),
    "q5_and" -> ((s, dir) => {
      val c = Stores.base(s, dir)
      val ids = RowIds.and(c("n_chars").between(100L, 400L, "[]"), c("lang") === "en")
      c.gather(ids, Seq("doc_id")).select("doc_id").orderBy("doc_id")
    }),
    "q6_or" -> ((s, dir) => {
      val c = Stores.base(s, dir)
      val ids = RowIds.or(c("n_chars") > 450L, c("lang") === "zh")
      c.gather(ids, Seq("doc_id")).select("doc_id").orderBy("doc_id")
    }),

    // --- training-data pipeline operators ---
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(docsWithClones(s, dir)).orderBy("keep_id")),
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashPairs(s, docsWithClones(s, dir), threshold = 0.95)
        .select("a", "b", "jaccard").orderBy("a", "b")),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(s, docsWithClones(s, dir), maxHamming = 3)
        .select(col("a"), col("b"), col("hamming").cast("long").as("hamming"))
        .orderBy("a", "b")),
    "dedup_ngram_jaccard" -> ((s, dir) => {
      val pairs = s.range(0, 5).select(col("id").as("a"), (col("id") + 1000000L).as("b"))
      Dedup.ngramJaccard(s, docsWithClones(s, dir), pairs)
        .select("a", "b", "ngram_jaccard").orderBy("a")
    }),
    "dedup_embedding_cosine" -> ((s, dir) =>
      // threshold 0.95 against REAL 0.87-0.99 near-dup structure: multi-
      // table LSH must recall every pair above 0.95 and the exact verify
      // must reject the planted near-misses below it. The perturbed-union
      // corpus subtree appears THREE times in the pair plan (signatures +
      // both verify joins); localCheckpoint materializes it once and
      // truncates the per-reference lineage re-analysis (guide §3.3) —
      // rows identical, so the oracle is unaffected.
      Dedup.embeddingPairs(s, embWithNearDups(s, dir).localCheckpoint(),
          threshold = 0.95)
        .select("a", "b").orderBy("a", "b")),
    "ann_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toArray
      Similarity.cosineTopK(s, emb, q, 10)
        .select(col("rank").cast("long").as("rank"), col("vec_id")).orderBy("rank")
    }),
    "ann_lsh_topk" -> ((s, dir) => {
      // materialized signature table + broadcast bucket equi-join probe over
      // a corpus with REAL near neighbors (8 perturbed clones of vec 0 at
      // cosines ~0.955-0.999); the LSH top-5 is asserted EQUAL to the exact
      // brute-force top-5 in-query, and the oracle recomputes it in DuckDB.
      // The corpus is cached for the three passes (signatures, probe,
      // brute-force recall check) and the checked result is returned as a
      // literal frame, so the assert costs one corpus materialization.
      // localCheckpoint, not persist: the three passes (signatures, probe,
      // brute-force recall check) re-analyzed the explode+transform corpus
      // lineage on every action even though the DATA was cached; the eager
      // checkpoint materializes once and every pass plans from the
      // truncated relation (rows identical)
      val corpus = annCorpus(s, dir).localCheckpoint()
      val q = corpus.where(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toArray
      // 16 tables suffice here: the top-5 sit at cos >= 0.995 where the
      // per-table hit rate is ~0.64 -> miss ~(0.36)^16 ~ 1e-7
      val sigs = Similarity.signatureTable(s, corpus, tables = 16)
      val lsh = Similarity.lshTopK(s, corpus, q, 5, tables = 16, sigs = Some(sigs))
        .select(col("rank").cast("long").as("rank"), col("vec_id")).orderBy("rank")
      val brute = Similarity.cosineTopK(s, corpus, q, 5)
        .select(col("rank").cast("long").as("rank"), col("vec_id")).orderBy("rank")
      val l = lsh.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val b = brute.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      require(l == b, s"LSH top-5 $l != exact top-5 $b (recall@5 < 1)")
      val rows: java.util.List[Row] =
        java.util.Arrays.asList(l.map { case (r, v) => Row(r, v) }: _*)
      s.createDataFrame(rows, StructType(Seq(
        StructField("rank", LongType), StructField("vec_id", LongType))))
    }),
    "text_token_counts" -> ((s, dir) =>
      TextStats.tokenCounts(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
          col("n_subword_est")).orderBy("doc_id")),
    "text_quality" -> ((s, dir) =>
      TextStats.qualityScores(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("n_words").cast("long").as("n_words"),
          col("n_punct").cast("long").as("n_punct"),
          col("n_digits").cast("long").as("n_digits"),
          col("n_stopwords").cast("long").as("n_stopwords"))
        .orderBy("doc_id")),
    "text_langid" -> ((s, dir) => {
      val h = TextStats.langId(t(s, dir, "documents"))
      h.select(col("doc_id") +:
        (TextStats.LangWords.map(_._1).map(l =>
          col(s"hits_$l").cast("long").as(s"hits_$l")) :+ col("pred_lang")): _*)
        .orderBy("doc_id")
    }),
    "text_fingerprint" -> ((s, dir) => {
      GraftFunctions.register(s)
      // in-query invariant: the codegen'd Catalyst expression must equal
      // the interpreted hashBytes on every row (lifted from PipelineSpec)
      import s.implicits._
      val out = TextStats.fingerprints(t(s, dir, "documents"))
      val interpreted = t(s, dir, "documents").select($"doc_id", $"text")
        .as[(Long, String)]
        .map { case (id, txt) =>
          (id, graft.functions.RollingHash.hashBytes(txt.getBytes("UTF-8")))
        }.toDF("doc_id", "fp_interp")
      val bad = out.join(interpreted, "doc_id")
        .where(col("fingerprint") =!= col("fp_interp")).count()
      require(bad == 0, s"$bad rows: codegen fingerprint != interpreted")
      out.orderBy("doc_id")
    }),
    "multimodal_features" -> ((s, dir) => {
      // REAL decode: PNG pixels via javax.imageio, WAV samples via
      // javax.sound.sampled, video = container of PNG frames. n_units and
      // checksum are integer statistics of the DECODED pixels/samples; the
      // oracle replays the lossless generator stream in SQL, so a decode
      // that misreads a single byte hash-mismatches
      val feats = Multimodal.extractFeatures(Multimodal.synth(s, 500, 8), dim = 16)
      feats.toDF().select(col("media_id"), col("kind"),
        size(col("feature")).cast("long").as("dim"),
        col("n_units"), col("checksum")).orderBy("media_id")
    }),
    "flagship_encode_roundtrip" -> ((s, dir) => {
      // F1 token table through encode→decode; token-array equality asserted
      // in-query (mismatch -> exception -> driver records failure)
      val root = s"/tmp/graft-qstore/flag-${java.util.UUID.randomUUID().toString.take(12)}"
      val n = 20000L
      // localCheckpoint: the generator frame feeds BOTH the store write and
      // the bit-equality join's expected side — materialize it once instead
      // of re-synthesizing (rows identical; the check still compares store
      // bytes against generator bytes)
      val ds = gen.TokenGen.dataset(s, n, 16).toDF().localCheckpoint()
      val c = Columns.fromDataFrame(s, root, ds, ByKeySalted("doc_id", 16, 4),
        lineage = s"synth:f1:$n")
      val back = c.read(Seq("doc_id", "tokens"))
      val joined = back.select(col("doc_id"), col("tokens").as("got"))
        .join(ds.select(col("doc_id"), col("tokens").as("want")), "doc_id")
      val bad = joined.where(not(col("got") === col("want"))).count()
      val nRead = back.count()
      val storage = c.storageBytes
      c.dropStore()
      require(bad == 0, s"$bad rows mismatched after roundtrip")
      s.createDataFrame(java.util.List.of(Row(nRead, bad, storage > 0)),
        StructType(Seq(StructField("n_rows", LongType),
          StructField("n_mismatch", LongType), StructField("stored", BooleanType))))
    })
  )

  // -------------------------------------------------------------- oracles

  private val ridDocs =
    "(SELECT *, row_number() OVER (ORDER BY doc_id) - 1 AS rid FROM documents)"

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         count(*) AS n
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q3_join_topk" ->
      """SELECT o_orderkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
         count(*) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY o_orderkey ORDER BY rev DESC, o_orderkey LIMIT 10""",
    "q_window_first_event" ->
      """SELECT user_id, event_id, event_type FROM (
           SELECT user_id, event_id, event_type,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events) t WHERE rn = 1 ORDER BY user_id""",
    "s2_roundtrip_scan" ->
      "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
    "p1_projection" ->
      s"SELECT rid, n_chars FROM $ridDocs ORDER BY rid",
    "p2_slice" ->
      s"SELECT doc_id FROM $ridDocs WHERE rid >= 100 AND rid < 200 ORDER BY doc_id",
    "p2_slice_stepped" ->
      s"SELECT doc_id FROM $ridDocs WHERE rid >= 10 AND rid < 300 AND (rid - 10) % 7 = 0 ORDER BY doc_id",
    "p3_gather" ->
      s"SELECT doc_id, n_chars FROM $ridDocs WHERE rid < 350 AND rid % 7 = 0 ORDER BY doc_id",
    "p2_slice_reversed" ->
      s"""SELECT CAST((299 - rid) // 2 AS BIGINT) AS pos, doc_id FROM $ridDocs
          WHERE rid <= 299 AND rid > 99 AND (299 - rid) % 2 = 0 ORDER BY pos""",
    "p4_point" ->
      s"SELECT doc_id, lang FROM $ridDocs WHERE rid = 42",
    "p3_gather_pruned" ->
      """SELECT doc_id FROM (SELECT doc_id FROM documents WHERE n_chars > 300
         ORDER BY doc_id LIMIT 100) ORDER BY doc_id""",
    "s7_append_two_segments" ->
      "SELECT 2 * count(*) AS n, CAST(2 * sum(n_chars) AS BIGINT) AS sum_chars FROM documents",
    "s6_fits_ingest" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM documents GROUP BY lang ORDER BY lang""",
    "p5_update_scatter" ->
      s"""SELECT CAST(sum(CASE WHEN rid < 100 AND rid % 10 = 0 THEN 0 ELSE n_chars END) AS BIGINT)
          AS sum_chars FROM $ridDocs""",
    "c5_vacuum_preserves" ->
      s"""SELECT CAST(sum(CASE WHEN rid < 100 AND rid % 10 = 0 THEN 0 ELSE n_chars END) AS BIGINT)
          AS sum_chars, true AS shrunk FROM $ridDocs""",
    "p5_update_bulk" ->
      """SELECT CAST(sum(CASE WHEN lang = 'zh' THEN 0 ELSE n_chars END) AS BIGINT)
         AS sum_chars FROM documents""",
    "dsv2_agg_pushdown" ->
      """SELECT count(*) AS n, min(n_chars) AS min_chars, max(n_chars) AS max_chars,
         min(doc_id) AS min_id, max(doc_id) AS max_id,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(sum(doc_id) AS BIGINT) AS sum_ids FROM documents""",
    "dsv2_index_routed" ->
      "SELECT doc_id FROM documents WHERE n_chars BETWEEN 300 AND 310 ORDER BY doc_id",
    "i1_q2_index_gt" ->
      "SELECT doc_id FROM documents WHERE n_chars > 300 ORDER BY doc_id",
    "dsv2_join_pruned" ->
      """SELECT d.doc_id, d.n_chars FROM documents d
         JOIN (SELECT doc_id FROM documents WHERE doc_id % 100 = 0) k
         ON d.doc_id = k.doc_id ORDER BY d.doc_id""",
    "dsv2_topn" ->
      """SELECT n_chars FROM (SELECT n_chars FROM documents ORDER BY n_chars DESC LIMIT 10)
         ORDER BY n_chars DESC""",
    "i5_index_incremental" ->
      "SELECT doc_id, n_chars FROM documents WHERE n_chars BETWEEN 200 AND 400 ORDER BY doc_id",
    "pipeline_dedup_graft" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
         FROM (SELECT * FROM documents UNION ALL
               SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
               FROM documents WHERE doc_id < 5)
         GROUP BY text ORDER BY keep_id""",
    "dsv2_write_roundtrip" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY lang ORDER BY lang""",
    "dsv2_scan_pushdown" ->
      "SELECT doc_id FROM documents WHERE n_chars > 300 ORDER BY doc_id",
    "dsv2_ordered_scan" ->
      "SELECT n_chars FROM documents ORDER BY n_chars",
    "dsv2_agg_filtered" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                min(n_chars) AS min_chars, max(n_chars) AS max_chars
         FROM documents WHERE doc_id < 1024""",
    "dsv2_point_unindexed" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE doc_id IN ((SELECT max(doc_id) // 3 FROM documents),
                          (SELECT 2 * max(doc_id) // 3 FROM documents))
         ORDER BY doc_id""",
    "dsv2_string_filter" ->
      "SELECT doc_id, lang FROM documents WHERE lang = 'en' ORDER BY doc_id",
    "q3_between_intervals" ->
      """SELECT count(*) FILTER (WHERE n_chars >= 100 AND n_chars <= 300) AS cnt_cc,
                count(*) FILTER (WHERE n_chars >= 100 AND n_chars <  300) AS cnt_co,
                count(*) FILTER (WHERE n_chars >  100 AND n_chars <= 300) AS cnt_oc,
                count(*) FILTER (WHERE n_chars >  100 AND n_chars <  300) AS cnt_oo
         FROM documents""",
    "q4_match_in" ->
      "SELECT doc_id, lang FROM documents WHERE lang IN ('en','fr') ORDER BY doc_id",
    "q5_and" ->
      "SELECT doc_id FROM documents WHERE n_chars BETWEEN 100 AND 400 AND lang = 'en' ORDER BY doc_id",
    "q6_or" ->
      "SELECT doc_id FROM documents WHERE n_chars > 450 OR lang = 'zh' ORDER BY doc_id",
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
         FROM (SELECT * FROM documents UNION ALL
               SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
               FROM documents WHERE doc_id < 5)
         GROUP BY text ORDER BY keep_id""",
    // exact O(n²) word-trigram Jaccard — the closed-form answer the
    // MinHash+LSH path must reproduce (incl. the corpus's own planted
    // near-dups, not just our clones)
    "dedup_minhash_lsh" ->
      """WITH d AS (SELECT * FROM documents UNION ALL
                    SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
                    FROM documents WHERE doc_id < 5),
         w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS words FROM d),
         g AS (SELECT doc_id,
                      CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
                           ELSE list_distinct(list_transform(range(1, len(words) - 1),
                                i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
                      END AS grams FROM w)
         SELECT a.doc_id AS a, b.doc_id AS b,
                CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) AS jaccard
         FROM g a JOIN g b ON a.doc_id < b.doc_id
         WHERE jaccard >= 0.95 ORDER BY a, b""",
    // full simhash recomputation in SQL: md5_number_lower word-bigram
    // features, 64 bit votes, exact O(n²) hamming self-join — the banded
    // Spark path must reproduce the closed-form answer exactly
    "dedup_simhash" ->
      """WITH d AS (SELECT * FROM documents UNION ALL
                    SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
                    FROM documents WHERE doc_id < 5),
         w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS words FROM d),
         f AS (SELECT doc_id,
                      CASE WHEN len(words) <= 1 THEN words
                           ELSE list_transform(range(1, len(words)),
                                j -> words[j] || ' ' || words[j+1])
                      END AS feats FROM w),
         fe AS (SELECT doc_id, unnest(feats) AS feat FROM f),
         v AS (SELECT doc_id, b,
                      sum(CASE WHEN (md5_number_lower(feat) >> b) & 1 = 1
                          THEN 1 ELSE -1 END) AS vote
               FROM fe, range(0, 64) t(b) GROUP BY doc_id, b),
         h0 AS (SELECT doc_id,
                  CAST(sum(CASE WHEN vote > 0 AND b < 32
                       THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS lo,
                  CAST(sum(CASE WHEN vote > 0 AND b >= 32
                       THEN 1::BIGINT << (b - 32) ELSE 0 END) AS BIGINT) AS hi
                FROM v GROUP BY doc_id),
         h AS (SELECT d.doc_id, COALESCE(h0.lo, 0) AS lo, COALESCE(h0.hi, 0) AS hi
               FROM d LEFT JOIN h0 USING (doc_id))
         SELECT a, b, hamming FROM (
           SELECT x.doc_id AS a, y.doc_id AS b,
                  CAST(bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) AS BIGINT) AS hamming
           FROM h x JOIN h y ON x.doc_id < y.doc_id)
         WHERE hamming <= 3 ORDER BY a, b""",
    "dedup_ngram_jaccard" ->
      """SELECT doc_id AS a, doc_id + 1000000 AS b,
         CAST(1.0 AS DOUBLE) AS ngram_jaccard
         FROM documents WHERE doc_id < 5 ORDER BY a""",
    // exact O(n²) cosine over the SAME perturbed corpus — the LSH path must
    // reproduce the full ≥0.95 pair set, not just self-planted exact clones
    "dedup_embedding_cosine" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         pert AS (
           SELECT vec_id + 1000000 AS vec_id,
                  CAST(CAST(list_transform(range(1, len(v)+1),
                    i -> v[i] + (CASE vec_id % 4 WHEN 0 THEN 0.02 WHEN 1 THEN 0.03
                                 WHEN 2 THEN 0.055 ELSE 0.07 END)
                         * (CASE WHEN (vec_id + i - 1) % 2 = 0 THEN 1.0 ELSE -1.0 END))
                    AS FLOAT[]) AS DOUBLE[]) AS v
           FROM e0 WHERE vec_id < 12),
         d AS (SELECT * FROM e0 UNION ALL SELECT * FROM pert)
         SELECT a.vec_id AS a, b.vec_id AS b
         FROM d a JOIN d b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.v, b.v) >= 0.95 ORDER BY a, b""",
    "ann_cosine_topk" ->
      """SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS rank, vec_id FROM (
           SELECT vec_id, list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                  (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) AS cos
           FROM embeddings) QUALIFY rank <= 10 ORDER BY rank""",
    // exact top-5 over the clone-planted ANN corpus: the LSH probe result
    // equals this because recall@5 = 1 is asserted in the query itself
    "ann_lsh_topk" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         clones AS (
           SELECT 2000000 + m AS vec_id,
                  CAST(CAST(list_transform(range(1, len(v)+1),
                    i -> v[i] + 0.005 * (m + 1) *
                         (CASE WHEN (m + i - 1) % 2 = 0 THEN 1.0 ELSE -1.0 END))
                    AS FLOAT[]) AS DOUBLE[]) AS v
           FROM e0, range(0, 8) t(m) WHERE vec_id = 0),
         d AS (SELECT * FROM e0 UNION ALL SELECT * FROM clones)
         SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS rank, vec_id FROM (
           SELECT vec_id, list_cosine_similarity(v, (SELECT v FROM e0 WHERE vec_id = 0)) AS cos
           FROM d) QUALIFY rank <= 5 ORDER BY rank""",
    "text_token_counts" ->
      """SELECT doc_id,
                CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_words,
                (length(text) + 3) // 4 AS n_subword_est
         FROM documents ORDER BY doc_id""",
    "text_quality" ->
      """SELECT doc_id,
                CAST(length(text) AS BIGINT) AS n_chars,
                CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_words,
                CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
                CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
                CAST(len(list_filter(list_filter(string_split(text, ' '), x -> x != ''),
                     w -> list_contains(['the','a','of','to','and','in','is'], w))) AS BIGINT) AS n_stopwords
         FROM documents ORDER BY doc_id""",
    // full FNV-1a recomputation in SQL: bytes from hex(encode(text)),
    // wrapping 64-bit multiply in UHUGEINT mod 2^64 — bit-exact vs the
    // codegen'd Catalyst expression incl. multibyte UTF-8
    "text_fingerprint" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
                           octet_length(encode(text)) AS n FROM documents),
         v AS (SELECT doc_id, list_transform(range(0, n),
                 i -> (16 * (strpos('0123456789ABCDEF', substr(hx, 2*i+1, 1)) - 1)
                       + strpos('0123456789ABCDEF', substr(hx, 2*i+2, 1)) - 1)::UHUGEINT) AS bytes
               FROM b),
         h AS (SELECT doc_id, list_reduce(list_prepend(14695981039346656037::UHUGEINT, bytes),
                 (acc, x) -> xor((acc * 1099511628211::UHUGEINT)
                                 % 18446744073709551616::UHUGEINT, x)) AS hu
               FROM v)
         SELECT doc_id, CAST(CAST(hu AS HUGEINT)
                - CASE WHEN hu >= 9223372036854775808::UHUGEINT
                       THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END
                AS BIGINT) AS fingerprint
         FROM h ORDER BY doc_id""",
    "text_langid" -> {
      // generated FROM TextStats.LangWords, so the oracle can never drift
      // from the engine's stopword lists
      val wordArrays = TextStats.LangWords.map { case (l, ws) =>
        l -> ws.map(w => s"'$w'").mkString("[", ",", "]")
      }.toMap
      val hitExprs = TextStats.LangWords.map(_._1).map { l =>
        s"CAST(len(list_filter(words, w -> list_contains(${wordArrays(l)}, w))) AS BIGINT) AS hits_$l"
      }.mkString(", ")
      val langs = TextStats.LangWords.map(_._1)
      val best = langs.map(l => s"hits_$l").mkString("greatest(", ", ", ")")
      val pred = langs.foldRight("'und'") { (l, acc) =>
        s"CASE WHEN hits_$l = $best AND $best > 0 THEN '$l' ELSE $acc END"
      }
      s"""SELECT doc_id, ${langs.map(l => s"hits_$l").mkString(", ")}, $pred AS pred_lang
          FROM (SELECT doc_id, $hitExprs
                FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x != '') AS words
                      FROM documents)) ORDER BY doc_id"""
    },
    // splitmix64 replayed in UHUGEINT arithmetic — but now over the PIXEL
    // AND SAMPLE STREAMS, not just the metadata: the engine decodes real
    // PNG/WAV payloads (lossless containers of the generator stream), so
    // sum-of-decoded-values checksums are recomputable in SQL bit-exactly.
    // A decode that misreads one byte fails the hash compare.
    "multimodal_features" ->
      """WITH ids AS (SELECT unnest(range(0, 500)) AS i),
         a AS (SELECT i, ((i::UHUGEINT + 11400714819323198485::UHUGEINT)
                          % 18446744073709551616::UHUGEINT) AS z1 FROM ids),
         b AS (SELECT i, ((xor(z1, z1 >> 30) * 13787848793156543929::UHUGEINT)
                          % 18446744073709551616::UHUGEINT) AS z2 FROM a),
         c AS (SELECT i, ((xor(z2, z2 >> 27) * 10723151780598845931::UHUGEINT)
                          % 18446744073709551616::UHUGEINT) AS z3 FROM b),
         d AS (SELECT i, xor(z3, z3 >> 31) AS mi FROM c),
         e AS (SELECT i, xor(11::UHUGEINT, mi) AS t FROM d),
         f AS (SELECT i, ((t + 11400714819323198485::UHUGEINT)
                          % 18446744073709551616::UHUGEINT) AS z1 FROM e),
         g AS (SELECT i, ((xor(z1, z1 >> 30) * 13787848793156543929::UHUGEINT)
                          % 18446744073709551616::UHUGEINT) AS z2 FROM f),
         h AS (SELECT i, ((xor(z2, z2 >> 27) * 10723151780598845931::UHUGEINT)
                          % 18446744073709551616::UHUGEINT) AS z3 FROM g),
         rr AS (SELECT i, xor(z3, z3 >> 31) AS r FROM h),
         dims AS (SELECT i, r,
           (['image','audio','video'])[CAST((r % 2147483648::UHUGEINT)
                                       % 3::UHUGEINT AS INT) + 1] AS kind,
           CAST(8 + ((r >> 3) % 16::UHUGEINT) AS BIGINT) AS w,
           CAST(8 + ((r >> 7) % 16::UHUGEINT) AS BIGINT) AS h,
           CAST(256 + ((r >> 11) % 1024::UHUGEINT) AS BIGINT) AS ns,
           CAST(4 + ((r >> 15) % 12::UHUGEINT) AS BIGINT) AS nf
          FROM rr),
         flat AS (
           SELECT i, kind, r, unnest(range(0,
               CASE WHEN kind = 'audio' THEN ns ELSE w * h END)) AS k
           FROM dims WHERE kind != 'video'),
         vidf AS (SELECT i, kind, r, w, h, unnest(range(0, nf)) AS fr
                  FROM dims WHERE kind = 'video'),
         vidu AS (SELECT i, kind, r, fr, unnest(range(0, w * h)) AS k FROM vidf),
         units AS (
           SELECT i, kind, (r + 1::UHUGEINT + k::UHUGEINT) AS z0 FROM flat
           UNION ALL
           SELECT i, kind, (r + (fr + 1)::UHUGEINT * 1048573::UHUGEINT
                            + k::UHUGEINT) AS z0 FROM vidu),
         m1 AS (SELECT i, kind, ((z0 + 11400714819323198485::UHUGEINT)
                          % 18446744073709551616::UHUGEINT) AS z1 FROM units),
         m2 AS (SELECT i, kind, ((xor(z1, z1 >> 30) * 13787848793156543929::UHUGEINT)
                          % 18446744073709551616::UHUGEINT) AS z2 FROM m1),
         m3 AS (SELECT i, kind, ((xor(z2, z2 >> 27) * 10723151780598845931::UHUGEINT)
                          % 18446744073709551616::UHUGEINT) AS z3 FROM m2),
         m4 AS (SELECT i, kind, xor(z3, z3 >> 31) AS v FROM m3),
         sums AS (SELECT i, kind,
             CAST(count(*) AS BIGINT) AS n_units,
             CAST(sum(CASE WHEN kind = 'audio' THEN v % 65536::UHUGEINT
                  ELSE (v % 256::UHUGEINT) + ((v >> 8) % 256::UHUGEINT)
                       + ((v >> 16) % 256::UHUGEINT) END) AS BIGINT) AS checksum
           FROM m4 GROUP BY i, kind)
         SELECT d.i AS media_id, d.kind, CAST(16 AS BIGINT) AS dim,
                s.n_units, s.checksum
         FROM dims d JOIN sums s ON d.i = s.i ORDER BY media_id""",
    // flagship: the REAL oracle is the in-query bit-equality join against
    // the generator (any mismatch throws before rows are produced); this
    // pins the checked invariants so the driver hash covers them
    "flagship_encode_roundtrip" ->
      "SELECT CAST(20000 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_mismatch, true AS stored"
  )
}
