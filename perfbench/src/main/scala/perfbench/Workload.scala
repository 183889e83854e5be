package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation. `units` is what `ops_per_s` counts for it. */
final case class Sample(kind: String, write: Boolean, ns: Long, units: Long, failed: Boolean)

/** What a workload reports after its timed phase.
  * @param failures failed correctness checks; any one fails the run
  * @param recall the workload's own recall figure (see README.md)
  * @param quality named figures printed next to the metrics */
final case class Outcome(failures: Seq[String], recall: Double,
    storedBytesPerRow: Double, quality: Seq[(String, Double, String)])

/** A seeded workload. [[setup]] runs several times (the last round's
  * state is kept), then [[cycle]] runs in a closed loop with one client
  * until the measured time is used up. A cycle is a fixed pattern of
  * operation kinds; the seed picks the data, keys and queries. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: File) {
  def setup(round: Int): Unit
  /** Untimed: operations run so the timed phase starts with classes
    * loaded and code compiled, where that costs less than what it
    * warms. */
  def warmup(): Unit
  /** Cycle `n` (from 0) of the operation pattern. */
  def cycle(n: Int): Seq[Sample]
  /** Untimed correctness checks on the final state. */
  def finish(): Outcome
  /** Per-layer figures read from end state, for the traced run. */
  def layerState(): Map[String, Double] = Map.empty
  /** The workload's own inputs for the `functions` micro-measurement. */
  def kernelInputs: (Seq[String], Seq[Array[Float]])

  protected def dir(name: String): String = new File(work, name).getAbsolutePath

  /** Run `f` as one operation inside an `op.<kind>` span. A throwing
    * operation is a failed sample, not a crashed run. */
  protected def op(kind: String, write: Boolean, units: Long)(f: => Unit): Sample = {
    val t0 = System.nanoTime()
    val failed =
      try { Trace.span("op." + kind)(f); false }
      catch {
        case NonFatal(e) =>
          System.err.println(s"operation $kind failed: $e")
          true
      }
    Sample(kind, write, System.nanoTime() - t0, units, failed)
  }

  /** Bytes of every file under `path`. */
  protected def bytesUnder(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).fold(0L)(_.map(walk).sum) else f.length
    walk(new File(path))
  }
}

/** Live keys with O(1) insert, delete and uniform sampling. */
final class LiveSet[T] {
  private val items = mutable.ArrayBuffer.empty[T]
  private val pos = mutable.HashMap.empty[T, Int]
  def size: Int = items.size
  def contains(x: T): Boolean = pos.contains(x)
  def clear(): Unit = { items.clear(); pos.clear() }
  def +=(x: T): Unit = if (!pos.contains(x)) { pos(x) = items.size; items += x }
  def -=(x: T): Unit = pos.remove(x).foreach { i =>
    val last = items.remove(items.size - 1)
    if (i < items.size) { items(i) = last; pos(last) = i }
  }
  def random(r: Random): T = items(r.nextInt(items.size))
  /** `n` distinct members, chosen uniformly. */
  def sample(r: Random, n: Int): Seq[T] = {
    val picked = mutable.LinkedHashSet.empty[T]
    while (picked.size < math.min(n, items.size)) picked += random(r)
    picked.toSeq
  }
}
