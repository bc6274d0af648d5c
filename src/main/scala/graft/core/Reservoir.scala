package graft.core

import java.nio.ByteBuffer
import java.util.{Arrays, Comparator}
import scala.collection.immutable.ArraySeq

/** Fixed-width or variable-width wire format for one reservoir value
  * type. The reference hand-packs its state structs per type
  * (`median.cc:51-86,113-115`); here the codec is the only per-type
  * knowledge the reservoir needs: how a value is written, and how its
  * slots are stored (boxed references unless the codec says otherwise). */
trait ValueCodec[T] extends Serializable {
  def write(buf: ByteBuffer, v: T): Unit
  def read(buf: ByteBuffer): T
  def size(v: T): Int

  /** Empty value storage with room for `cap` samples. */
  private[core] def newSlots(cap: Int): Slots = new RefSlots(new Array[AnyRef](cap))
}

/** Bounded reservoir-sample state for approximate-median / sampling
  * aggregates, generic over the sampled value type.
  *
  * Re-expresses (not ports) the semantics of the reference UDA state
  * machine in `scalingdata/rocana-impala-udfs` `median.cc:88-304`:
  *
  *  - Algorithm-R insert with an INCLUSIVE random draw on
  *    `[0, sourceSize]` (reference `median.cc:107-110,149-155`).
  *  - NULL inputs are skipped by the caller and never reach [[insert]],
  *    so they do not count toward [[sourceSize]] (`median.cc:130`).
  *  - Just before a partial state is shipped (Spark: `serialize`),
  *    every still-unkeyed sample gets a weight key
  *    `(n - rand(k)) / n` in `((n-k)/n, 1]` so that a later merge can
  *    keep samples proportionally to stream size (`median.cc:176-192`).
  *  - Merge first keys any unkeyed sample on either side (a buffer
  *    filled by `update` can meet a shipped one when Spark's
  *    sort-based aggregation fallback merges them), then keeps the
  *    `maxSamples` highest-keyed samples via a min-heap on key,
  *    O(k log k) (`median.cc:228-282`), and sums `sourceSize`.
  *  - Median = value-sorted element at 0-based index `n/2` — the UPPER
  *    middle for even n, no interpolation (`median.cc:299-301`).
  *    Exact whenever `maxSamples >=` number of non-null inputs.
  *
  * Like the reference's flat `{val, key}` cell array, the state is
  * primitive: keys are a `double[]` plus a count, and values live in
  * [[Slots]] chosen by the codec — a `double[]` for
  * [[Reservoir.DoubleCodec]], boxed references otherwise. The merge
  * heap works on slot indices and replays the exact steps of the
  * `scala.collection.mutable.PriorityQueue` it replaced, so samples,
  * their order and the wire bytes are the same for either storage.
  *
  * The type parameter realizes the reference's latent per-type
  * comparators (`median.cc:196-221` — generic `<`, StringVal memcmp,
  * DecimalVal int128, TimestampVal date-then-time): ordering is
  * supplied by the caller per value type, exactly the generalization
  * the dead C++ template specializations were reaching for. (The
  * reference's 10-byte string-sample truncation, `median.cc:49,67-86`,
  * is NOT mirrored — it would corrupt results; full values are kept.)
  *
  * State is O(maxSamples) per aggregation group regardless of input
  * size — the property that makes the aggregate safe at 100 TB scale.
  */
final class Reservoir[T] private (
    var maxSamples: Int,
    var sourceSize: Long,
    private var n: Int,
    private var vals: Slots,
    private var keys: Array[Double],
    rngSeed: Long) extends Serializable {

  private val rng = new Reservoir.Rng(rngSeed)

  def numSamples: Int = n

  /** The (value, key) pairs in slot order. */
  def samples: IndexedSeq[(T, Double)] =
    (0 until n).map(i => (vals(i).asInstanceOf[T], keys(i)))

  /** Algorithm-R insert of one non-null value. */
  def insert(v: T, k: Int): Unit = {
    val s = claim(k)
    if (s >= 0) vals(s) = v
  }

  /** [[insert]] without boxing, for DOUBLE values. */
  def insertDouble(v: Double, k: Int): Unit = {
    val s = claim(k)
    if (s >= 0) vals.setDouble(s, v)
  }

  /** Counts one input and returns the slot its value goes to, or -1
    * when the draw leaves the sample as it is. */
  private def claim(k: Int): Int = {
    if (k > maxSamples) maxSamples = k // growth tolerated (median.cc:157-162)
    var s = -1
    if (n < maxSamples) {
      if (n == keys.length) {
        val cap = math.min(maxSamples, math.max(8, 2 * n))
        keys = Arrays.copyOf(keys, cap)
        vals = vals.resized(cap)
      }
      s = n
      n += 1
    } else {
      // Inclusive draw on [0, sourceSize], replicating GetNext64's
      // documented off-by-one-friendly range (median.cc:107-110).
      val r = rng.nextLongInclusive(sourceSize)
      if (r < maxSamples) s = r.toInt
    }
    if (s >= 0) keys(s) = Reservoir.Unkeyed
    sourceSize += 1
    s
  }

  /** Assign weight keys to unkeyed samples; call at partial-output
    * (serialize) time, mirroring `median.cc:176-192`. */
  def assignKeys(): Unit = {
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

  /** Weighted merge: keep the maxSamples highest-keyed samples. */
  def merge(other: Reservoir[T]): Unit = {
    assignKeys(); other.assignKeys() // a no-op unless update filled a side
    if (other.maxSamples > maxSamples) maxSamples = other.maxSamples
    // min-heap on key over current samples (median.cc:263-269); heap
    // entry j < n is our slot j, n + j is other's slot j
    val heap = new Reservoir.KeyHeap(math.max(n, math.min(maxSamples, n + other.n)))
    var i = 0
    while (i < n) { heap.enqueue(keys(i), i); i += 1 }
    i = 0
    while (i < other.n) {
      if (heap.size < maxSamples) {
        heap.enqueue(other.keys(i), n + i)
      } else if (heap.size > 0 && other.keys(i) > heap.headKey) {
        heap.dequeue()
        heap.enqueue(other.keys(i), n + i)
      }
      i += 1
    }
    // read out in heap-array order, as PriorityQueue.foreach did
    val out = vals.fresh(heap.size)
    var p = 1
    while (p <= heap.size) {
      val s = heap.src(p)
      if (s < n) out.copyFrom(vals, s, p - 1) else out.copyFrom(other.vals, s - n, p - 1)
      p += 1
    }
    keys = Arrays.copyOfRange(heap.keys, 1, heap.size + 1)
    vals = out
    n = heap.size
    sourceSize += other.sourceSize
  }

  /** Upper-middle median of the current samples; None for empty state
    * (SQL NULL, median.cc:295-298). */
  def medianUpper(implicit ord: Ordering[T]): Option[T] =
    if (n == 0) None else Some(vals.select(n, n / 2, ord.asInstanceOf[Ordering[Any]]).asInstanceOf[T])

  /** Value-sorted copy of the samples (deterministic output order). */
  def sortedSamples(implicit ord: Ordering[T]): IndexedSeq[T] =
    vals.sorted(n, ord.asInstanceOf[Ordering[Any]]).asInstanceOf[IndexedSeq[T]]

  def serializeTo(codec: ValueCodec[T]): Array[Byte] = {
    val c = codec.asInstanceOf[ValueCodec[Any]]
    val buf = ByteBuffer.allocate(4 + 8 + 4 + vals.bytes(n, c) + 8 * n)
    buf.putInt(maxSamples)
    buf.putLong(sourceSize)
    buf.putInt(n)
    var i = 0
    while (i < n) {
      vals.write(buf, i, c)
      buf.putDouble(keys(i))
      i += 1
    }
    buf.array()
  }
}

object Reservoir {
  /** Sentinel for a sample that has not been assigned a merge key yet
    * (reference uses -1, median.cc:57). Keys are always > 0 once set. */
  val Unkeyed: Double = -1.0

  /** An empty reservoir with boxed value storage. */
  def empty[T](maxSamples: Int, seed: Long): Reservoir[T] =
    new Reservoir[T](maxSamples, 0L, 0, new RefSlots(new Array[AnyRef](0)),
      Array.emptyDoubleArray, seed)

  /** An empty reservoir with the value storage of `codec`'s type. */
  def empty[T](maxSamples: Int, seed: Long, codec: ValueCodec[T]): Reservoir[T] =
    new Reservoir[T](maxSamples, 0L, 0, codec.newSlots(0), Array.emptyDoubleArray, seed)

  def deserializeFrom[T](bytes: Array[Byte], codec: ValueCodec[T]): Reservoir[T] = {
    val c = codec.asInstanceOf[ValueCodec[Any]]
    val buf = ByteBuffer.wrap(bytes)
    val maxSamples = buf.getInt
    val sourceSize = buf.getLong
    val n = buf.getInt
    val vals = c.newSlots(n)
    val keys = new Array[Double](n)
    var i = 0
    while (i < n) {
      vals.read(buf, i, c)
      keys(i) = buf.getDouble
      i += 1
    }
    // RNG state need not survive the wire: a deserialized state only
    // merges (no inserts), and key assignment already happened.
    new Reservoir[T](maxSamples, sourceSize, n, vals, keys,
      sourceSize ^ (n.toLong << 32))
  }

  /** Codec for the reference's one exported value type (DoubleVal,
    * median.h:44); its reservoirs keep their values in a `double[]`. */
  object DoubleCodec extends ValueCodec[Double] {
    def write(buf: ByteBuffer, v: Double): Unit = buf.putDouble(v)
    def read(buf: ByteBuffer): Double = buf.getDouble
    def size(v: Double): Int = 8
    override private[core] def newSlots(cap: Int): Slots = new DoubleSlots(new Array[Double](cap))
  }

  /** `java.util.Random`'s generator without its `AtomicLong`: the same
    * 48-bit LCG, `nextLong` and `nextInt(bound)` that its Javadoc
    * specifies, so a seed draws the same stream. A reservoir is only
    * touched by the task that owns it. */
  private[core] final class Rng(seed: Long) extends Serializable {
    private var s = (seed ^ 0x5DEECE66DL) & ((1L << 48) - 1)

    private def next(bits: Int): Int = {
      s = (s * 0x5DEECE66DL + 0xBL) & ((1L << 48) - 1)
      (s >>> (48 - bits)).toInt
    }

    def nextLong(): Long = (next(32).toLong << 32) + next(32)

    def nextInt(bound: Int): Int = {
      val m = bound - 1
      var u = next(31)
      if ((bound & m) == 0) ((bound * u.toLong) >> 31).toInt
      else {
        var r = u % bound
        while (u - r + m < 0) { u = next(31); r = u % bound }
        r
      }
    }

    /** Uniform draw on the INCLUSIVE range [0, max] (median.cc:107-110). */
    def nextLongInclusive(max: Long): Long = {
      if (max <= 0) 0L
      else {
        val bound = max + 1
        var bits = 0L; var v = 0L
        do {
          bits = nextLong() >>> 1
          v = bits % bound
        } while (bits - v + (bound - 1) < 0)
        v
      }
    }
  }

  /** Min-heap on key over (key, source slot) pairs that replays the
    * merge's former `mutable.PriorityQueue[(T, Double)]` ordered by
    * `Ordering.by(_._2).reverse` step for step: array slot 0 unused,
    * `enqueue` appends and sifts up (the queue's one-element heapify
    * reduces to that), `dequeue` moves the last entry to the root and
    * sifts down with the same comparisons. Keys compare with
    * `Double.compare`, as the queue's ordering did. */
  private[core] final class KeyHeap(cap: Int) {
    val keys = new Array[Double](cap + 1)
    val src = new Array[Int](cap + 1)
    var size = 0

    def headKey: Double = keys(1)

    /** The queue's `ord.lt(as(a), as(b))`: b's key is smaller. */
    private def lt(a: Int, b: Int): Boolean =
      java.lang.Double.compare(keys(b), keys(a)) < 0

    private def swap(a: Int, b: Int): Unit = {
      val k = keys(a); keys(a) = keys(b); keys(b) = k
      val s = src(a); src(a) = src(b); src(b) = s
    }

    def enqueue(key: Double, s: Int): Unit = {
      size += 1
      keys(size) = key
      src(size) = s
      var k = size
      while (k > 1 && lt(k / 2, k)) { swap(k, k / 2); k /= 2 }
    }

    def dequeue(): Unit = {
      keys(1) = keys(size)
      src(1) = src(size)
      size -= 1
      var k = 1
      var done = false
      while (!done && size >= 2 * k) {
        var j = 2 * k
        if (j < size && lt(j, j + 1)) j += 1
        if (!lt(k, j)) done = true // the queue's ord.gteq(as(k), as(j))
        else { swap(k, j); k = j }
      }
    }
  }
}

/** Slot-indexed value storage of a [[Reservoir]]: the only code that
  * knows whether values are boxed references or primitive doubles. The
  * generic members go through `apply`/`update` and the codec; a storage
  * overrides them where it has a faster path. */
private[core] sealed abstract class Slots extends Serializable {
  def apply(i: Int): Any
  def update(i: Int, v: Any): Unit
  def setDouble(i: Int, v: Double): Unit
  /** This storage's values in a new storage of `cap` slots. */
  def resized(cap: Int): Slots
  /** An empty storage of the same kind with `cap` slots. */
  def fresh(cap: Int): Slots
  def copyFrom(src: Slots, from: Int, to: Int): Unit = update(to, src(from))
  /** Encoded size of the first `n` values. */
  def bytes(n: Int, codec: ValueCodec[Any]): Int = {
    var b = 0
    var i = 0
    while (i < n) { b += codec.size(apply(i)); i += 1 }
    b
  }
  def write(buf: ByteBuffer, i: Int, codec: ValueCodec[Any]): Unit = codec.write(buf, apply(i))
  def read(buf: ByteBuffer, i: Int, codec: ValueCodec[Any]): Unit = update(i, codec.read(buf))
  /** The first `n` values, sorted: a stable sort, as `Seq.sorted`. */
  def sorted(n: Int, ord: Ordering[Any]): IndexedSeq[Any] = {
    val c = new Array[AnyRef](n)
    var i = 0
    while (i < n) { c(i) = apply(i).asInstanceOf[AnyRef]; i += 1 }
    Arrays.sort(c, ord.asInstanceOf[Comparator[AnyRef]])
    ArraySeq.unsafeWrapArray(c)
  }
  /** `sorted(n, ord)(k)`. */
  def select(n: Int, k: Int, ord: Ordering[Any]): Any = sorted(n, ord)(k)
}

private[core] final class RefSlots(private val a: Array[AnyRef]) extends Slots {
  def apply(i: Int): Any = a(i)
  def update(i: Int, v: Any): Unit = a(i) = v.asInstanceOf[AnyRef]
  def setDouble(i: Int, v: Double): Unit = a(i) = Double.box(v)
  def resized(cap: Int): Slots = new RefSlots(Arrays.copyOf(a, cap))
  def fresh(cap: Int): Slots = new RefSlots(new Array[AnyRef](cap))
}

/** Values of [[Reservoir.DoubleCodec]] reservoirs; another codec still
  * reads and writes them, boxed. */
private[core] final class DoubleSlots(private val a: Array[Double]) extends Slots {
  def apply(i: Int): Any = a(i)
  def update(i: Int, v: Any): Unit = a(i) = v.asInstanceOf[Double]
  def setDouble(i: Int, v: Double): Unit = a(i) = v
  def resized(cap: Int): Slots = new DoubleSlots(Arrays.copyOf(a, cap))
  def fresh(cap: Int): Slots = new DoubleSlots(new Array[Double](cap))
  override def copyFrom(src: Slots, from: Int, to: Int): Unit = src match {
    case d: DoubleSlots => a(to) = d.a(from)
    case s => super.copyFrom(s, from, to)
  }
  override def bytes(n: Int, codec: ValueCodec[Any]): Int =
    if (codec eq Reservoir.DoubleCodec) 8 * n else super.bytes(n, codec)
  override def write(buf: ByteBuffer, i: Int, codec: ValueCodec[Any]): Unit =
    if (codec eq Reservoir.DoubleCodec) buf.putDouble(a(i)) else super.write(buf, i, codec)
  override def read(buf: ByteBuffer, i: Int, codec: ValueCodec[Any]): Unit =
    if (codec eq Reservoir.DoubleCodec) a(i) = buf.getDouble else super.read(buf, i, codec)

  /** `Ordering.Double.TotalOrdering` is `Double.compare`, the order of
    * `Arrays.sort(double[])`: values equal under it have the same bits,
    * so sorting or selecting primitives gives the same elements. Any
    * other ordering sorts boxed. */
  private def total(ord: Ordering[Any]): Boolean =
    (ord: AnyRef).isInstanceOf[Ordering.Double.TotalOrdering]

  override def sorted(n: Int, ord: Ordering[Any]): IndexedSeq[Any] =
    if (!total(ord)) super.sorted(n, ord)
    else {
      val c = Arrays.copyOf(a, n)
      Arrays.sort(c)
      ArraySeq.unsafeWrapArray(c)
    }

  /** Hoare's selection (Wirth's form) on a copy: expected O(n), and
    * runs of equal values split evenly between the two sides. */
  override def select(n: Int, k: Int, ord: Ordering[Any]): Any =
    if (!total(ord)) super.select(n, k, ord)
    else {
      val c = Arrays.copyOf(a, n)
      var lo = 0; var hi = n - 1
      while (lo < hi) {
        val x = c(k)
        var i = lo; var j = hi
        while (i <= j) {
          while (java.lang.Double.compare(c(i), x) < 0) i += 1
          while (java.lang.Double.compare(x, c(j)) < 0) j -= 1
          if (i <= j) { val t = c(i); c(i) = c(j); c(j) = t; i += 1; j -= 1 }
        }
        if (j < k) lo = i
        if (k < i) hi = j
      }
      c(k)
    }
}
