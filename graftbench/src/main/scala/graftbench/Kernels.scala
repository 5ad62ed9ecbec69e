package graftbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{TextHashKernels, VecDot}

/** Nanoseconds per call of the custom kernels, called through their
  * public entry points on inputs drawn from the seed: `VecDot` (64-dim
  * float dot product, interpreted eval), `TextHashKernels.ivfCell2`
  * (16-cell argmin), `tokenPolyHashes` (40 tokens, width 12, as the
  * dedup queries call it) and `simhash` (40 hashes, 48 bits). Each figure
  * is the median of nine timed rounds of ~10 ms after three warm-up
  * rounds. */
object Kernels {
  private val N = 512

  private def nsPerCall(f: Int => Long): Double = {
    var sink = 0L
    def round(reps: Int): Long = {
      val t0 = System.nanoTime()
      var r = 0
      while (r < reps) {
        var i = 0
        while (i < N) { sink += f(i); i += 1 }
        r += 1
      }
      System.nanoTime() - t0
    }
    var reps = 1
    while (round(reps) < 10000000L) reps *= 2
    (0 until 3).foreach(_ => round(reps))
    val samples = (0 until 9).map(_ => round(reps).toDouble / (reps.toLong * N)).sorted
    if (sink == 42L) println("")
    samples(4)
  }

  def measure(seed: Long): Map[String, Double] = {
    val rng = new scala.util.Random(seed)
    val vecs = Array.fill(N)(UnsafeArrayData.fromPrimitiveArray(
      Array.fill(64)(rng.nextGaussian().toFloat)))
    val words = Array.fill(64)(UTF8String.fromString(rng.alphanumeric.take(6).mkString))
    val tokens = Array.fill(N)(new GenericArrayData(
      Array.fill[Any](40)(words(rng.nextInt(words.length)))))
    val hashes = Array.fill(N)(UnsafeArrayData.fromPrimitiveArray(
      Array.fill(40)(rng.nextLong())))
    val t = ArrayType(FloatType, containsNull = false)
    val dot = VecDot(BoundReference(0, t, nullable = false),
      BoundReference(1, t, nullable = false))
    val rows = Array.tabulate(N)(i => InternalRow(vecs(i), vecs((i + 1) % N)))
    Map(
      "kernels.vec_dot_ns" -> nsPerCall(i =>
        java.lang.Double.doubleToRawLongBits(dot.eval(rows(i)).asInstanceOf[Double])),
      "kernels.argmin_ns" -> nsPerCall(i => TextHashKernels.ivfCell2(vecs(i), 16).toLong),
      "kernels.poly_hash_ns" -> nsPerCall(i =>
        TextHashKernels.tokenPolyHashes(tokens(i), 12).numElements().toLong),
      "kernels.simhash_ns" -> nsPerCall(i => TextHashKernels.simhash(hashes(i), 48)))
  }
}
