package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{CosineSimilarity, MinHashSignatureLongs, ShingleHashes, TextSignals}

/** The `functions` layer measured alone: graft's hot Catalyst
  * expressions evaluated row by row on one thread, outside any Spark
  * job, over a workload's own documents and vectors. Inputs are
  * converted to Catalyst values before timing, so only the kernel is
  * timed. Each figure is the median of [[Reps]] passes after one
  * warm-up pass. */
object Kernels {
  val Reps = 5
  /** The signature length and shingle size graft's dedup operators use. */
  val NumHashes = 128
  val ShingleSize = 3

  private def nsPer(rows: Array[InternalRow])(eval: InternalRow => Any): Double = {
    var sink = 0 // consumed below, so the JIT cannot drop the evaluations
    def pass(): Long = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < rows.length) { if (eval(rows(i)) != null) sink += 1; i += 1 }
      System.nanoTime() - t0
    }
    pass()
    val times = Seq.fill(Reps)(pass()).sorted
    if (sink < 0) println(sink)
    times(Reps / 2).toDouble / rows.length
  }

  def measure(texts: Seq[String], vectors: Seq[Array[Float]]): Map[String, Double] = {
    val strings = texts.map(UTF8String.fromString).toArray
    val words = texts.map(t =>
      new GenericArrayData(t.trim.split("\\s+").map(w => UTF8String.fromString(w): Any)))
    val shingle = ShingleHashes(BoundReference(0, ArrayType(StringType), nullable = true), ShingleSize)
    val shingles = words.map(w => InternalRow(shingle.eval(InternalRow(w)))).toArray
    val minhash = MinHashSignatureLongs(
      BoundReference(0, ArrayType(LongType, containsNull = false), nullable = true), NumHashes)
    val signals = TextSignals(BoundReference(0, StringType, nullable = true))
    val vecs: Array[ArrayData] = vectors.map(v => UnsafeArrayData.fromPrimitiveArray(v): ArrayData).toArray
    val pairs = vecs.indices.map(i => InternalRow(vecs(i), vecs((i * 7 + 1) % vecs.length))).toArray
    val vt = ArrayType(FloatType, containsNull = false)
    val cosine = CosineSimilarity(BoundReference(0, vt, nullable = true),
      BoundReference(1, vt, nullable = true))
    Map(
      "functions.minhash_ns_per_doc" -> nsPer(shingles)(minhash.eval),
      "functions.textsignals_ns_per_doc" ->
        nsPer(strings.map(s => InternalRow(s)))(signals.eval),
      "functions.cosine_ns_per_pair" -> nsPer(pairs)(cosine.eval))
  }
}
