package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{CharBigrams, FloatDot, Shingles}
import graft.ops.Tables

/** Nanoseconds per call of the `functions` kernels, each called
  * directly over rows collected from the `documents` and `embeddings`
  * tables: a warm-up period, then a timed period of whole sweeps. */
object Kernels {
  private val WarmNs = 100000000L
  private val TimedNs = 200000000L

  /** Cycles `f` over `n` inputs; returns ns per call of the timed part. */
  private def perCall(n: Int)(f: Int => Any): Double = {
    var sink = 0
    def run(budget: Long): (Long, Long) = {
      val t0 = System.nanoTime()
      var calls = 0L
      while (System.nanoTime() - t0 < budget) {
        var i = 0
        while (i < n) { sink += f(i).hashCode; i += 1 }
        calls += n
      }
      (calls, System.nanoTime() - t0)
    }
    run(WarmNs)
    val (calls, ns) = run(TimedNs)
    // Use the results, so that the JIT cannot drop the calls.
    if (sink == 42) print("")
    ns.toDouble / calls
  }

  def measure(spark: SparkSession, dir: String): String = {
    val texts = Tables.t(spark, dir, "documents").select("text").collect()
      .map(r => r.getString(0))
    val utf = texts.map(UTF8String.fromString)
    val words: Array[ArrayData] = texts.map(t =>
      ArrayData.toArrayData(t.split(" ").map(UTF8String.fromString)))
    val shingles = words.map(Shingles.shingles(_, 3))
    val vecs = Tables.t(spark, dir, "embeddings").select("embedding").collect()
      .map(r => UnsafeArrayData.fromPrimitiveArray(
        r.getSeq[Float](0).toArray))
    val dot = FloatDot(BoundReference(0, ArrayType(FloatType, false), false),
      BoundReference(1, ArrayType(FloatType, false), false))
    val n = texts.length
    val m = vecs.length
    val o = new Json
    o.num("functions.bigram_ns", perCall(n)(i => CharBigrams.bigramCounts(utf(i))))
    o.num("functions.shingle_ns", perCall(n)(i => Shingles.shingles(words(i), 3)))
    o.num("functions.minhash_ns", perCall(n)(i => Shingles.minhashSig(shingles(i), 16)))
    o.num("functions.intersect_ns", perCall(n)(i =>
      Shingles.sortedIntersectCount(shingles(i), shingles((i + 1) % n))))
    o.num("functions.floatdot_ns", perCall(m)(i =>
      dot.eval(InternalRow(vecs(i), vecs((i + 1) % m)))))
    o.render
  }
}
