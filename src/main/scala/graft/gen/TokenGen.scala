package graft.gen

import graft.gen.SplitMix.mix
import org.apache.spark.sql.{Dataset, SparkSession}

/** Flagship input row (BASELINE.json input_hint): pre-tokenized training
  * sequences. Typed Dataset end-to-end (no RDD).
  */
final case class TokenRow(doc_id: String, tokens: Array[Int], n_tok: Int, source: String)

/** splitmix64's finalizer: the one 64-bit mixer behind every synthetic
  * stream (token rows, hyperplanes, MinHash seeds, multimodal pixels and
  * samples). The DuckDB oracles replay it bit for bit.
  */
object SplitMix {
  @inline def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** Deterministic synthesis of the F1 token table (FIXTURES.md):
  * a pure function of (seed, rowIndex), so runs at ANY parallelism
  * synthesize identical data — required for the N vs 4N scaling
  * comparison. Token distributions are keyed by `source` to exercise
  * every codec:
  *   web   (85%) → Zipf-ish over 50k vocab   (dict/FSST-friendly)
  *   code  ( 8%) → 0..255 runs               (RLE/bit-pack)
  *   books ( 5%) → band 30000..30512          (frame-of-reference)
  *   synth ( 2%) → constant runs              (RLE degenerate)
  * The skewed `source` marginal is intentional (salting tests).
  */
object TokenGen {

  final val Sources = Array("web", "code", "books", "synth")

  /** Tiny splittable counter-based PRNG: stream k of row i under seed. */
  private final class Rng(seed: Long, i: Long) {
    private var ctr = mix(seed ^ mix(i))
    def nextLong(): Long = { ctr = mix(ctr); ctr }
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
    def nextInt(bound: Int): Int = ((nextLong() >>> 1) % bound).toInt
  }

  def row(seed: Long, i: Long): TokenRow = {
    val r = new Rng(seed, i)
    val u = r.nextDouble()
    val source =
      if (u < 0.85) "web" else if (u < 0.93) "code" else if (u < 0.98) "books" else "synth"
    // LogUniform(8, 2048)
    val ln8 = math.log(8.0)
    val ln2048 = math.log(2048.0)
    val nTok = math.round(math.exp(ln8 + r.nextDouble() * (ln2048 - ln8))).toInt
    val toks = new Array[Int](nTok)
    source match {
      case "web" =>
        // log-uniform rank ≈ Zipf: p(rank) ∝ 1/rank over 50k vocab
        var k = 0
        while (k < nTok) {
          toks(k) = math.min(49999, math.exp(r.nextDouble() * math.log(50000.0)).toInt)
          k += 1
        }
      case "code" =>
        var k = 0
        while (k < nTok) {
          val v = r.nextInt(256)
          val run = math.min(nTok - k, 1 + r.nextInt(16))
          java.util.Arrays.fill(toks, k, k + run, v)
          k += run
        }
      case "books" =>
        var k = 0
        while (k < nTok) { toks(k) = 30000 + r.nextInt(512); k += 1 }
      case "synth" =>
        java.util.Arrays.fill(toks, r.nextInt(100))
    }
    TokenRow(f"doc$i%012d", toks, nTok, source)
  }

  /** Distributed synthesis as a typed Dataset. Partition count is explicit
    * (independent of cores) so the encode job's chunk layout is identical
    * at any parallelism level.
    */
  def dataset(spark: SparkSession, n: Long, parts: Int, seed: Long = 42L): Dataset[TokenRow] = {
    import spark.implicits._
    spark.range(0L, n, 1L, parts).mapPartitions(_.map(i => row(seed, i)))
  }
}
