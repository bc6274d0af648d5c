package graft.core

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based invariants of the reservoir state machine — the
  * algebra the distributed aggregate relies on for correctness at any
  * partitioning (update on any subset, serialize, merge in any
  * grouping must preserve these). */
object ReservoirProps extends Properties("Reservoir") {

  /** Variable-size lists INCLUDING empty and tiny — the n=0 / n<k
    * branches are exactly where regressions would hide. */
  private val values: Gen[List[Double]] =
    Gen.choose(0, 200).flatMap(n => Gen.listOfN(n, Gen.choose(-1e6, 1e6)))

  // the DOUBLE storage appx_median_bounded samples into
  private def filled(vs: Seq[Double], k: Int, seed: Long = 1L): Reservoir[Double] = {
    val r = Reservoir.empty[Double](k, seed, Reservoir.DoubleCodec)
    vs.foreach(r.insertDouble(_, k))
    r
  }

  property("exact regime: samples are exactly the sorted input") =
    forAll(values) { vs =>
      val r = filled(vs, vs.length + 1)
      r.sortedSamples == vs.sorted
    }

  property("exact regime: median is the upper-middle element") =
    forAll(values.suchThat(_.nonEmpty)) { vs =>
      val r = filled(vs, vs.length + 1)
      r.medianUpper.contains(vs.sorted.apply(vs.length / 2))
    }

  property("median selects the sorted sample's n/2 element, ties and zeros included") =
    forAll(Gen.choose(1, 3000).flatMap(n => Gen.listOfN(n,
        Gen.oneOf(-0.0, 0.0, 1.0, -1.0, 2.0, Double.NaN, Double.NegativeInfinity)))) { vs =>
      val r = filled(vs, vs.length)
      val bits = (d: Double) => java.lang.Double.doubleToRawLongBits(d)
      r.medianUpper.map(bits) == Some(bits(r.sortedSamples.apply(vs.length / 2)))
    }

  property("bounded regime: state size and source count invariants") =
    forAll(values, Gen.choose(1, 50)) { (vs, k) =>
      val r = filled(vs, k)
      r.numSamples == math.min(vs.length, k) &&
        r.sourceSize == vs.length.toLong &&
        r.sortedSamples.forall(vs.contains)
    }

  property("serialize/deserialize round-trips the full state") =
    forAll(values, Gen.choose(1, 50)) { (vs, k) =>
      val r = filled(vs, k)
      r.assignKeys()
      val back = Reservoir.deserializeFrom(
        r.serializeTo(Reservoir.DoubleCodec), Reservoir.DoubleCodec)
      back.maxSamples == r.maxSamples && back.sourceSize == r.sourceSize &&
        back.samples == r.samples
    }

  property("merge: counts add, size caps at max k, samples from the union") =
    forAll(values, values, Gen.choose(1, 50), Gen.choose(1, 50)) { (a, b, ka0, kb0) =>
      // clamp: ScalaCheck shrinking does not respect generator bounds
      val (ka, kb) = (math.max(ka0, 1), math.max(kb0, 1))
      val ra = filled(a, ka, seed = 2L)
      val rb = filled(b, kb, seed = 3L)
      val retained = ra.numSamples + rb.numSamples
      ra.assignKeys(); rb.assignKeys()
      ra.merge(rb)
      val all = a ++ b
      ra.sourceSize == all.length.toLong &&
        // merge can keep at most what both sides RETAINED, capped at max k
        ra.numSamples == math.min(retained, math.max(ka, kb)) &&
        ra.sortedSamples.forall(all.contains)
    }

  property("merge in exact regime loses nothing, regardless of split") =
    forAll(values, Gen.choose(0, 200)) { (vs, cut0) =>
      val cut = math.min(cut0, vs.length)
      val k = vs.length + 1
      val (l, rgt) = vs.splitAt(cut)
      val ra = filled(l, k, seed = 4L)
      val rb = filled(rgt, k, seed = 5L)
      ra.assignKeys(); rb.assignKeys()
      ra.merge(rb)
      Prop(ra.sortedSamples == vs.sorted) :| s"split at $cut"
    }
}
