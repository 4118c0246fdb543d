package graft.pipeline

import graft.gen.SplitMix.mix
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - Brute-force cosine top-k: a single narrow pass computing the dot
  *    product with built-in higher-order functions (`zip_with` +
  *    `aggregate`, codegen'd — no UDF), then a TakeOrderedAndProject.
  *    This is the exact baseline and the right plan up to ~10^8 rows.
  *  - LSH top-k: random-hyperplane signatures narrow the candidate set to
  *    matching buckets across L tables before exact cosine — the scale
  *    path: at 10^12 vectors the probe only shuffles candidate buckets.
  */
object Similarity {

  /** Deterministic pseudo-Gaussian hyperplanes (sum of 4 uniforms, CLT). */
  private[pipeline] def hyperplanes(seed: Long, nPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { d =>
        var s = 0.0
        var k = 0
        while (k < 4) {
          s += (mix(seed ^ mix(p * 1000003L + d * 97L + k)) >>> 11) * 1.1102230246251565e-16
          k += 1
        }
        s - 2.0
      }
    }

  private[pipeline] def signature(v: Array[Float], planes: Array[Array[Double]]): Long = {
    var sig = 0L
    var p = 0
    while (p < planes.length) {
      var dot = 0.0
      var d = 0
      val pl = planes(p)
      while (d < pl.length && d < v.length) { dot += v(d) * pl(d); d += 1 }
      if (dot >= 0) sig |= 1L << p
      p += 1
    }
    sig
  }

  private[pipeline] def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Exact brute-force cosine top-k against a query vector: a codegen'd
    * native Expression for the score (higher-order functions interpret
    * their lambda per element — ~10× slower at 64 dims), then a
    * TakeOrderedAndProject (no full shuffle-sort for a LIMIT). IEEE
    * arithmetic identical to the old zip_with/aggregate form.
    */
  def cosineTopK(spark: SparkSession, emb: DataFrame, query: Array[Double],
      k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val scored = emb.select(col("vec_id"),
      graft.functions.GraftFunctions.cosine_sim(
        col("embedding"), typedlit(query.toSeq)).as("cosine"))
    val top = scored.orderBy(desc("cosine"), asc("vec_id")).limit(k)
    // rank over the tiny top-k result only (k rows — window is safe)
    top.withColumn("rank",
      row_number().over(Window.orderBy(desc("cosine"), asc("vec_id"))))
      .select("rank", "vec_id", "cosine")
  }

  private[pipeline] def tablePlanes(tables: Int, bits: Int,
      dim: Int): Array[Array[Array[Double]]] =
    Array.tabulate(tables)(t => hyperplanes(5000L + 1000L * t, bits, dim))

  /** Pre-materialized LSH signature table: one (vec_id, table, bucket) row
    * per vector per table. Built ONCE over the corpus; at cluster scale
    * persist it next to the store (parquet, bucketed by (table, bucket))
    * so every probe is a broadcast bucket equi-join — NOT a corpus scan.
    */
  def signatureTable(spark: SparkSession, emb: DataFrame,
      tables: Int = 32, bits: Int = 14, dim: Int = 64): DataFrame = {
    import spark.implicits._
    val planes = tablePlanes(tables, bits, dim)
    emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .flatMap { case (id, e) =>
        val ef = e.toArray
        (0 until tables).iterator.map(t => (id, t, signature(ef, planes(t))))
      }.toDF("vec_id", "table", "bucket")
  }

  /** Approximate top-k: the query's L bucket keys (computed driver-side)
    * broadcast-join the signature table; exact cosine reranks the matched
    * candidates only. Recall of a cos=θ neighbor is 1-(1-p^bits)^tables,
    * p = 1-acos(θ)/π: ≥0.9996 at θ=0.96 with the 32×14 defaults.
    */
  def lshTopK(spark: SparkSession, emb: DataFrame, query: Array[Double],
      k: Int, tables: Int = 32, bits: Int = 14, dim: Int = 64,
      sigs: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val planes = tablePlanes(tables, bits, dim)
    val sigTable = sigs.getOrElse(signatureTable(spark, emb, tables, bits, dim))
    val qf = query.map(_.toFloat)
    val qKeys = (0 until tables).map(t => (t, signature(qf, planes(t))))
      .toDF("table", "bucket")
    val candidates = sigTable
      .join(broadcast(qKeys), Seq("table", "bucket"), "left_semi")
      .select("vec_id").distinct()
    // candidates is tiny by construction (matched buckets only) — broadcast
    // it explicitly: relying on AQE works at small scale, but a planner miss
    // at 10^12 vectors would turn the rerank into a full corpus shuffle
    cosineTopK(spark, emb.join(broadcast(candidates), "vec_id"), query, k)
  }
}
