package graftbench

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** Kernel microbench: the public static helpers behind the codegen
  * expressions of `graft.functions`, timed on fixed arrays built from
  * seeded inputs (in the unsafe array layout generated code hands them),
  * with no Spark scheduling in the loop. Reports the median ns per row
  * over several repeats, so kernel changes show apart from plan changes. */
object Kernels {
  private val Rows = 2000
  private val Repeats = 9

  /** Median ns/row of `f` applied to every row; the sink defeats
    * dead-code elimination. */
  private def time(f: Int => Long): Double = {
    var sink = 0L
    // warm the call site past the JIT's compile thresholds
    (0 until 10 * Rows).foreach(i => sink += f(i % Rows))
    val ts = (0 until Repeats).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < Rows) { sink += f(i); i += 1 }
      (System.nanoTime() - t0).toDouble / Rows
    }
    if (sink == 42L) println("")
    Stats.median(ts)
  }

  def run(seed: Long): Seq[(String, Double, String)] = {
    val docs = Gen.documents(seed, 20, Rows).map(d => UTF8String.fromString(d.text))
    def longs(xs: Array[Long]): ArrayData = UnsafeArrayData.fromPrimitiveArray(xs)
    val vecs = Gen.embeddings(seed, 21, Rows + 1)
      .map(v => UnsafeArrayData.fromPrimitiveArray(v.v.map(_.toDouble)): ArrayData)
    val grams = docs.map(d => longs(CharNGramHashes.hashes(d, 5).toLongArray()))
    val sortedGrams = grams.map(g => longs(g.toLongArray().sorted))
    val weights = sortedGrams.map(g => longs(Array.fill(g.numElements())(1L)))
    val bytes = vecs.map(v =>
      UnsafeArrayData.fromPrimitiveArray(QuantizeInt8.encode(v).toByteArray()): ArrayData)
    val r = Gen.rng(seed, 22)
    val m = 8
    val ksub = 16
    val codes = IndexedSeq.fill(Rows)(
      UnsafeArrayData.fromPrimitiveArray(Array.fill(m)(r.nextInt(ksub))): ArrayData)
    val lut = UnsafeArrayData.fromPrimitiveArray(Array.fill(m * ksub)(r.nextDouble()))
    Seq(
      ("functions.min_hash_sig_ns", time(i => MinHashSig.signature(grams(i), 64).getLong(0))),
      ("functions.char_ngram_hashes_ns",
        time(i => CharNGramHashes.hashes(docs(i), 5).numElements().toLong)),
      ("functions.sim_hash64_ns", time(i => SimHash64.simhash(grams(i)))),
      ("functions.sparse_dot_counts_ns", time(i => SparseDotCounts.merge(sortedGrams(i),
        weights(i), sortedGrams((i + 1) % Rows),
        weights((i + 1) % Rows)).getLong(0))),
      ("functions.dot_product_ns", time(i => DotProduct.dot(vecs(i), vecs(i + 1)).toLong)),
      ("functions.byte_dot_ns", time(i => ByteDot.dot(bytes(i), bytes(i + 1)))),
      ("functions.quantize_int8_ns",
        time(i => QuantizeInt8.encode(vecs(i)).numElements().toLong)),
      ("functions.pq_adc_score_ns", time(i => PqAdcScore.score(codes(i), lut).toLong)))
      .map { case (k, v) => (k, v, "ns/row") }
  }
}
