package graft.pipeline

import graft.gen.SplitMix.mix
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Deduplication operators for web-scale training corpora.
  *
  * Shapes chosen for 100 TB:
  *  - exact dedup: one hash-shuffle on the text (map-side partial agg).
  *  - MinHash+LSH: narrow signature pass → shuffle only (band, bucket,
  *    doc_id) triples (tiny vs the corpus) → pairs verified with exact
  *    Jaccard via a join that touches only candidate texts.
  *  - SimHash: narrow fingerprint pass → 16-bit band blocking → verify by
  *    Hamming distance; never a cross-product.
  *  - Embedding near-dup: random-hyperplane LSH buckets → within-bucket
  *    cosine; brute-force O(n²) never materializes.
  */
object Dedup {

  /** Exact duplicate groups: representative (min doc_id) + multiplicity.
    * One shuffle, partial-aggregated map-side.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy("text")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Word n-gram shingles hashed to 64 bits — the standard granularity for
    * text near-dup (char shingles over-match corpora with small vocabularies:
    * most char-grams recur in every document).
    */
  private[pipeline] def shingleHashes(text: String, n: Int): Array[Long] = {
    val ws = text.split(' ').filter(_.nonEmpty)
    // STRICT <: a doc of exactly n words has one real n-gram and must hash
    // it with the same mix chain longer docs use, or the shared shingle
    // never matches across the n-word boundary (same rule as ngramJaccard)
    if (ws.length < n) return Array(RollingHashStr(ws.mkString(" ")))
    val wordHash = ws.map(RollingHashStr)
    val out = new Array[Long](ws.length - n + 1)
    var i = 0
    while (i + n <= ws.length) {
      var h = 0xcbf29ce484222325L
      var j = i
      while (j < i + n) { h = mix(h ^ wordHash(j)); j += 1 }
      out(i) = h
      i += 1
    }
    out
  }

  private def RollingHashStr(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var j = 0
    while (j < s.length) { h = (h * 0x100000001b3L) ^ s.charAt(j).toLong; j += 1 }
    h
  }

  /** MinHash signature of a text: per hash function k, min over shingles of
    * mix(shingleHash ^ seed_k). Pure function of the text.
    */
  private[pipeline] def minhashSig(text: String, numHashes: Int, w: Int): Array[Long] = {
    val sh = shingleHashes(text, w)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      var k = 0
      while (k < numHashes) {
        val h = mix(sh(i) ^ mix(k.toLong + 0x5bd1e995L))
        if (h < sig(k)) sig(k) = h
        k += 1
      }
      i += 1
    }
    sig
  }

  final case class BandKey(band: Int, bucket: Long, doc_id: Long)
  final case class Pair(a: Long, b: Long)

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * @param threshold exact shingle-Jaccard cutoff applied to candidates
    * @param maxBucket LSH buckets larger than this are skipped (logged as
    *                  `skipped_buckets` on the returned second frame) —
    *                  a giant bucket means a degenerate band, and emitting
    *                  its O(m²) pairs would DoS the shuffle at scale.
    */
  def minhashPairs(spark: SparkSession, docs: DataFrame,
      numHashes: Int = 32, bands: Int = 8, shingle: Int = 3,
      threshold: Double = 0.5, maxBucket: Int = 256): DataFrame = {
    import spark.implicits._
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val keyed: Dataset[BandKey] = docs.select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, text) =>
        val sig = minhashSig(text, numHashes, shingle)
        (0 until bands).iterator.map { b =>
          var h = 0xcbf29ce484222325L
          var r = 0
          while (r < rowsPerBand) { h = mix(h ^ sig(b * rowsPerBand + r)); r += 1 }
          BandKey(b, h, id)
        }
      }
    val mb = maxBucket
    val candidates: Dataset[Pair] = keyed
      .groupByKey(k => (k.band, k.bucket))
      .flatMapGroups { (_: (Int, Long), it: Iterator[BandKey]) =>
        // cap BEFORE materializing: a degenerate bucket must be skipped
        // without pulling its millions of members into task memory
        val ids = it.map(_.doc_id).take(mb + 1).toArray.sorted
        if (ids.length < 2 || ids.length > mb) Iterator.empty
        else for {
          i <- ids.indices.iterator
          j <- (i + 1 until ids.length).iterator
        } yield Pair(ids(i), ids(j))
      }
      .distinct()
    // verify candidates with EXACT shingle Jaccard — join touches only
    // candidate texts (broadcast the id side of each join when small)
    val texts = docs.select($"doc_id", $"text")
    val joined = candidates
      .join(texts.withColumnRenamed("doc_id", "a").withColumnRenamed("text", "text_a"), "a")
      .join(texts.withColumnRenamed("doc_id", "b").withColumnRenamed("text", "text_b"), "b")
      .select($"a", $"b", $"text_a", $"text_b").as[(Long, Long, String, String)]
    val sh = shingle
    joined.map { case (a, b, ta, tb) =>
      val sa = shingleHashes(ta, sh).toSet
      val sb = shingleHashes(tb, sh).toSet
      val inter = sa.intersect(sb).size
      val union = sa.size + sb.size - inter
      (a, b, if (union == 0) 1.0 else inter.toDouble / union)
    }.toDF("a", "b", "jaccard")
      .where($"jaccard" >= threshold)
  }

  /** Exact n-gram (word) Jaccard similarity for given candidate pairs
    * (pairs: DataFrame[a,b]). Used standalone or as a verifier.
    */
  def ngramJaccard(spark: SparkSession, docs: DataFrame, pairs: DataFrame,
      n: Int = 3): DataFrame = {
    import spark.implicits._
    val texts = docs.select($"doc_id", $"text")
    val joined = pairs
      .join(texts.withColumnRenamed("doc_id", "a").withColumnRenamed("text", "text_a"), "a")
      .join(texts.withColumnRenamed("doc_id", "b").withColumnRenamed("text", "text_b"), "b")
      .select($"a", $"b", $"text_a", $"text_b").as[(Long, Long, String, String)]
    joined.map { case (a, b, ta, tb) =>
      def grams(t: String): Set[Seq[String]] = {
        val ws = t.split(" ").filter(_.nonEmpty)
        if (ws.length < n) Set(ws.toSeq) else ws.sliding(n).map(_.toSeq).toSet
      }
      val (ga, gb) = (grams(ta), grams(tb))
      val inter = ga.intersect(gb).size
      val union = ga.size + gb.size - inter
      (a, b, if (union == 0) 1.0 else inter.toDouble / union)
    }.toDF("a", "b", "ngram_jaccard")
  }

  /** 64-bit SimHash over word-bigram features (weighted bit-vote
    * fingerprint). Bigrams discriminate small-vocabulary corpora where
    * unigram frequency vectors collide.
    *
    * The per-feature hash is the low 64 bits of MD5 with DuckDB's
    * `md5_number_lower` byte order (little-endian of digest bytes 8..15),
    * so an external SQL engine can recompute the fingerprint bit-exactly —
    * that is what backs the driver oracle. Returned as two non-negative
    * 32-bit halves (lo = bits 0..31, hi = bits 32..63): unsigned-safe in
    * any engine.
    */
  def simhash64(text: String): (Long, Long) = {
    val votes = new Array[Int](64)
    val ws = text.split(' ').filter(_.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    def vote(feature: String): Unit = {
      val d = md.digest(feature.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var h = 0L
      var k = 15
      while (k >= 8) { h = (h << 8) | (d(k) & 0xffL); k -= 1 }
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    if (ws.length == 1) vote(ws(0))
    else {
      var i = 0
      while (i + 1 < ws.length) { vote(ws(i) + " " + ws(i + 1)); i += 1 }
    }
    var lo = 0L
    var hi = 0L
    var b = 0
    while (b < 32) { if (votes(b) > 0) lo |= 1L << b; b += 1 }
    while (b < 64) { if (votes(b) > 0) hi |= 1L << (b - 32); b += 1 }
    (lo, hi)
  }

  def simhashes(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .map { case (id, t) => val (lo, hi) = simhash64(t); (id, lo, hi) }
      .toDF("doc_id", "sim_lo", "sim_hi")
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ maxHamming, blocked on
    * maxHamming+1 bands over the 64-bit fingerprint (pigeonhole: ≤ d
    * differing bits cannot touch all d+1 bands, so some band matches
    * exactly), so grouping is an equi-key shuffle, never a cross product —
    * and recall is GUARANTEED for any maxHamming, not just the default 3.
    *
    * Buckets larger than `maxBucket` are SKIPPED (same guard as
    * `minhashPairs`/`embeddingPairs`): a hot band key on a 10^10-doc corpus
    * would otherwise emit O(m²) rows and DoS the shuffle — a bucket that
    * degenerate means near-identical fingerprints en masse, which exact
    * dedup handles at a fraction of the cost. The Hamming test runs INSIDE
    * the group, so only passing pairs ever hit the wire.
    */
  def simhashPairs(spark: SparkSession, docs: DataFrame,
      maxHamming: Int = 3, maxBucket: Int = 4096): DataFrame = {
    import spark.implicits._
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming $maxHamming out of range")
    val nBands = maxHamming + 1 // default 3 -> the classic 4×16-bit blocking
    val sh = simhashes(spark, docs).as[(Long, Long, Long)]
    val banded = sh.flatMap { case (id, lo, hi) =>
      val f = (lo & 0xffffffffL) | (hi << 32) // full 64-bit fingerprint
      val base = 64 / nBands
      (0 until nBands).iterator.map { b =>
        val start = b * base
        val width = if (b == nBands - 1) 64 - start else base
        val key = if (width == 64) f else (f >>> start) & ((1L << width) - 1)
        (b, key, id, lo, hi)
      }
    }
    val mh = maxHamming
    val mb = maxBucket
    banded.groupByKey(r => (r._1, r._2))
      .flatMapGroups { (_: (Int, Long), it: Iterator[(Int, Long, Long, Long, Long)]) =>
        // pull at most maxBucket+1 members — a degenerate bucket is skipped
        // without ever materializing it
        val buf = it.take(mb + 1).toArray
        if (buf.length < 2 || buf.length > mb) Iterator.empty
        else {
          val sorted = buf.sortBy(_._3)
          for {
            i <- sorted.indices.iterator
            j <- (i + 1 until sorted.length).iterator
            d = java.lang.Long.bitCount(sorted(i)._4 ^ sorted(j)._4) +
              java.lang.Long.bitCount(sorted(i)._5 ^ sorted(j)._5)
            if d <= mh
          } yield (sorted(i)._3, sorted(j)._3, d)
        }
      }.toDF("a", "b", "hamming").distinct()
  }

  /** Embedding near-duplicates: L OR-ed random-hyperplane LSH tables, then
    * EXACT cosine verification on the candidate pairs only.
    *
    * Recall math (why multi-table): a single b-bit table finds a cos=θ
    * pair with probability p^b, p = 1 - acos(θ)/π. At θ=0.95, b=12 that is
    * ~0.28 — a single table MISSES most true pairs at the default
    * threshold. With L tables the miss rate is (1-p^b)^L: b=14, L=32 →
    * ~3·10⁻⁴ at θ=0.95 and <10⁻⁹ at θ=0.99.
    *
    * Scale shape: the signature pass shuffles (table, bucket, id) triples
    * only — vectors are NOT replicated L times; candidate pairs join back
    * to the embedding table for the exact verify, touching candidate
    * vectors only. maxBucket guards degenerate buckets (a giant bucket
    * would emit O(m²) pairs and DoS the shuffle).
    */
  def embeddingPairs(spark: SparkSession, emb: DataFrame,
      threshold: Double = 0.95, bits: Int = 14, tables: Int = 32,
      dim: Int = 64, maxBucket: Int = 1024): DataFrame = {
    import spark.implicits._
    val planesAll = Array.tabulate(tables)(t =>
      Similarity.hyperplanes(seed = 7L + 1000L * t, nPlanes = bits, dim = dim))
    val sigs = emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .flatMap { case (id, e) =>
        val ef = e.toArray
        (0 until tables).iterator.map(t =>
          (t, Similarity.signature(ef, planesAll(t)), id))
      }.toDF("table", "bucket", "vec_id").as[(Int, Long, Long)]
    val mb = maxBucket
    val cand = sigs.groupByKey(r => (r._1, r._2))
      .flatMapGroups { (_: (Int, Long), it: Iterator[(Int, Long, Long)]) =>
        // cap BEFORE materializing (see minhashPairs)
        val ids = it.map(_._3).take(mb + 1).toArray.sorted
        if (ids.length < 2 || ids.length > mb) Iterator.empty
        else for {
          i <- ids.indices.iterator
          j <- (i + 1 until ids.length).iterator
        } yield (ids(i), ids(j))
      }.toDF("a", "b").distinct()
    val vecs = emb.select($"vec_id", $"embedding")
    cand
      .join(vecs.toDF("a", "va"), "a")
      .join(vecs.toDF("b", "vb"), "b")
      .select($"a", $"b", $"va", $"vb") // joins put the key column first
      .as[(Long, Long, Seq[Float], Seq[Float])]
      .map { case (a, b, va, vb) =>
        (a, b, Similarity.cosine(va.map(_.toDouble).toArray, vb.map(_.toDouble).toArray))
      }.toDF("a", "b", "cosine")
      .where($"cosine" >= threshold)
  }
}
