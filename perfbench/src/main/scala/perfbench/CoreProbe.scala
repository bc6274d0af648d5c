package perfbench

import graft.core.Reservoir
import graft.functions.ValueOps

import org.apache.spark.sql.types.DoubleType

/** Times the phases of the paper's aggregate state by calling
  * [[graft.core.Reservoir]] directly, the way `appx_median_bounded`
  * drives it: `Reservoir[Any]` with boxed doubles and the DOUBLE codec.
  *
  * The values are split into [[Partials]] slices, one per simulated
  * task. Each slice fills its own reservoir (update), which is keyed
  * and serialized (serialize); the partials are deserialized and merged
  * into one (merge), whose upper median is taken (finalize). */
object CoreProbe {
  val Ks: Seq[Int] = Seq(100, 20000, 100000)
  val Partials = 4
  val Repeats = 3

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def run(values: Array[Double]): Map[String, Double] = {
    val ops = ValueOps.forType(DoubleType).get
    val slice = values.length / Partials
    Ks.flatMap { k =>
      val runs = (0 to Repeats).map(_ => once(values, slice, k, ops))
      // the first repeat warms the JIT and is dropped
      val kept = runs.tail
      Seq("update_ns_per_row", "serialize_us", "partial_bytes",
        "merge_us_per_partial", "finalize_us").map { m =>
        s"core.$m.k$k" -> median(kept.map(_(m)))
      }
    }.toMap
  }

  private def once(values: Array[Double], slice: Int, k: Int,
      ops: ValueOps): Map[String, Double] = {
    var steadyNs, steadyRows, serNs, bytes = 0L
    val partials = (0 until Partials).map { p =>
      val r = Reservoir.empty[Any](k, 42L + p)
      val from = p * slice
      var i = from
      val full = math.min(from + k, from + slice)
      while (i < full) { r.insert(values(i), k); i += 1 }
      // steady state: the reservoir is full, inserts only replace
      val t0 = System.nanoTime()
      while (i < from + slice) { r.insert(values(i), k); i += 1 }
      steadyNs += System.nanoTime() - t0
      steadyRows += from + slice - full
      val t1 = System.nanoTime()
      r.assignKeys()
      val b = r.serializeTo(ops.codec)
      serNs += System.nanoTime() - t1
      bytes += b.length
      b
    }
    // the final aggregate starts from an empty buffer and merges every
    // partial into it
    val t2 = System.nanoTime()
    val merged = Reservoir.empty[Any](k, 42L)
    partials.foreach(b => merged.merge(Reservoir.deserializeFrom(b, ops.codec)))
    val mergeNs = System.nanoTime() - t2
    val t3 = System.nanoTime()
    val m = merged.medianUpper(ops.ordering)
    val finNs = System.nanoTime() - t3
    require(m.isDefined, "probe reservoir is empty")
    Map(
      "update_ns_per_row" -> steadyNs.toDouble / math.max(1L, steadyRows),
      "serialize_us" -> serNs / 1e3 / Partials,
      "partial_bytes" -> bytes.toDouble / Partials,
      "merge_us_per_partial" -> mergeNs / 1e3 / Partials,
      "finalize_us" -> finNs / 1e3)
  }
}
