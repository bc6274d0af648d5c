package graft.core

import java.nio.ByteBuffer
import java.util.Random
import scala.collection.mutable

/** Reference reservoir: the boxed `ArrayBuffer` state with a
  * `mutable.PriorityQueue[(T, Double)]` merge that [[Reservoir]]'s
  * primitive slots replaced, kept as it was. Specs pin [[Reservoir]] to
  * it byte for byte, sample for sample.
  */
final class ReservoirRef[T](
    var maxSamples: Int,
    var sourceSize: Long,
    val values: mutable.ArrayBuffer[T],
    val keys: mutable.ArrayBuffer[Double],
    val rng: Random) extends Serializable {

  def numSamples: Int = values.length

  /** Algorithm-R insert of one non-null value. */
  def insert(v: T, k: Int): Unit = {
    if (k > maxSamples) maxSamples = k // growth tolerated (median.cc:157-162)
    if (values.length < maxSamples) {
      values += v
      keys += ReservoirRef.Unkeyed
    } else {
      // Inclusive draw on [0, sourceSize], replicating GetNext64's
      // documented off-by-one-friendly range (median.cc:107-110).
      val r = ReservoirRef.nextLongInclusive(rng, sourceSize)
      if (r < maxSamples) {
        values(r.toInt) = v
        keys(r.toInt) = ReservoirRef.Unkeyed
      }
    }
    sourceSize += 1
  }

  /** Assign weight keys to unkeyed samples; call at partial-output
    * (serialize) time, mirroring `median.cc:176-192`. */
  def assignKeys(): Unit = {
    val n = numSamples
    if (n == 0) return
    var i = 0
    while (i < n) {
      if (keys(i) < 0) {
        val r = rng.nextInt(n) // rand() % num_samples
        keys(i) = (sourceSize - r).toDouble / sourceSize.toDouble
      }
      i += 1
    }
  }

  /** Weighted merge: keep the maxSamples highest-keyed samples.
    * Both sides must already have keys assigned. */
  def merge(other: ReservoirRef[T]): Unit = {
    if (other.maxSamples > maxSamples) maxSamples = other.maxSamples
    // min-heap on key over current samples (median.cc:263-269)
    implicit val byKeyMin: Ordering[(T, Double)] =
      Ordering.by[(T, Double), Double](_._2).reverse
    val heap = mutable.PriorityQueue.empty[(T, Double)]
    var i = 0
    while (i < values.length) { heap.enqueue((values(i), keys(i))); i += 1 }
    i = 0
    while (i < other.values.length) {
      if (heap.size < maxSamples) {
        heap.enqueue((other.values(i), other.keys(i)))
      } else if (heap.nonEmpty && other.keys(i) > heap.head._2) {
        heap.dequeue()
        heap.enqueue((other.values(i), other.keys(i)))
      }
      i += 1
    }
    values.clear(); keys.clear()
    heap.foreach { case (v, k) => values += v; keys += k }
    sourceSize += other.sourceSize
  }

  /** Upper-middle median of the current samples; None for empty state
    * (SQL NULL, median.cc:295-298). */
  def medianUpper(implicit ord: Ordering[T]): Option[T] =
    if (values.isEmpty) None
    else Some(values.sorted.apply(values.length / 2))

  /** Value-sorted copy of the samples (deterministic output order). */
  def sortedSamples(implicit ord: Ordering[T]): Seq[T] = values.toSeq.sorted

  def serializeTo(codec: ValueCodec[T]): Array[Byte] = {
    val n = numSamples
    var payload = 0
    var i = 0
    while (i < n) { payload += codec.size(values(i)) + 8; i += 1 }
    val buf = ByteBuffer.allocate(4 + 8 + 4 + payload)
    buf.putInt(maxSamples)
    buf.putLong(sourceSize)
    buf.putInt(n)
    i = 0
    while (i < n) {
      codec.write(buf, values(i))
      buf.putDouble(keys(i))
      i += 1
    }
    buf.array()
  }
}

object ReservoirRef {
  /** Sentinel for a sample that has not been assigned a merge key yet
    * (reference uses -1, median.cc:57). Keys are always > 0 once set. */
  val Unkeyed: Double = -1.0

  def empty[T](maxSamples: Int, seed: Long): ReservoirRef[T] =
    new ReservoirRef[T](maxSamples, 0L, mutable.ArrayBuffer.empty,
      mutable.ArrayBuffer.empty, new Random(seed))

  def deserializeFrom[T](bytes: Array[Byte], codec: ValueCodec[T]): ReservoirRef[T] = {
    val buf = ByteBuffer.wrap(bytes)
    val maxSamples = buf.getInt
    val sourceSize = buf.getLong
    val n = buf.getInt
    val values = new mutable.ArrayBuffer[T](n)
    val keys = new mutable.ArrayBuffer[Double](n)
    var i = 0
    while (i < n) {
      values += codec.read(buf)
      keys += buf.getDouble
      i += 1
    }
    // RNG state need not survive the wire: a deserialized state only
    // merges (no inserts), and key assignment already happened.
    new ReservoirRef[T](maxSamples, sourceSize, values, keys,
      new Random(sourceSize ^ (n.toLong << 32)))
  }

  /** Uniform draw on the INCLUSIVE range [0, max] (median.cc:107-110). */
  private[core] def nextLongInclusive(rng: Random, max: Long): Long = {
    if (max <= 0) 0L
    else {
      val bound = max + 1
      var bits = 0L; var v = 0L
      do {
        bits = rng.nextLong() >>> 1
        v = bits % bound
      } while (bits - v + (bound - 1) < 0)
      v
    }
  }
}
