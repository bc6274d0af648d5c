package graft.core

import graft.functions.ValueOps

import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** [[Reservoir]] (primitive keys; DOUBLE values in a `double[]`) pinned
  * to [[ReservoirRef]] (the boxed state with a `PriorityQueue` merge) in
  * the bounded regime, through the aggregate's own ValueOps codecs:
  * the same wire bytes for every partial, the same (value, key)
  * sequence after every insert run and every merge, and the same
  * median and sorted sample. Inputs draw from a handful of values and
  * partials are short, so values repeat and many keys tie. */
object ReservoirTwinProps extends Properties("ReservoirTwin") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(500)

  private val doubles: Gen[Any] =
    Gen.oneOf[Double](0.0, -0.0, 1.0, 2.5, -3.0, 7.0, Double.NaN).map(d => d: Any)
  private val strings: Gen[Any] =
    Gen.oneOf("", "a", "ab", "b", "zz", "été").map(UTF8String.fromString)

  private final case class Partial(vs: List[Any], k: Int, seed: Long)

  private def partials(value: Gen[Any]): Gen[List[Partial]] = for {
    count <- Gen.choose(1, 5)
    ps <- Gen.listOfN(count, for {
      n <- Gen.choose(0, 150)
      vs <- Gen.listOfN(n, value)
      k <- Gen.choose(1, 60)
      seed <- Gen.choose(0L, 1000L)
    } yield Partial(vs, k, seed))
  } yield ps

  /** Bits, not numeric equality: -0.0 and NaN must land identically. */
  private def canon(v: Any): Any = v match {
    case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  }

  private def same(r: Reservoir[Any], ref: ReservoirRef[Any]): Boolean =
    r.numSamples == ref.numSamples && r.sourceSize == ref.sourceSize &&
      r.maxSamples == ref.maxSamples &&
      r.samples.map { case (v, k) => (canon(v), java.lang.Double.doubleToRawLongBits(k)) } ==
        ref.values.indices.map(i =>
          (canon(ref.values(i)), java.lang.Double.doubleToRawLongBits(ref.keys(i))))

  private def twin(dt: DataType, value: Gen[Any]): Prop = {
    val ops = ValueOps.forType(dt).get
    forAll(partials(value), Gen.choose(1, 60)) { (ps0, kf0) =>
      // clamp: ScalaCheck shrinking does not respect generator bounds
      val ps = ps0.map(p => p.copy(k = math.max(p.k, 1)))
      val kf = math.max(kf0, 1)
      val filled = ps.map { p =>
        val r = Reservoir.empty[Any](p.k, p.seed, ops.codec)
        val ref = ReservoirRef.empty[Any](p.k, p.seed)
        p.vs.foreach { v =>
          v match {
            case d: java.lang.Double => r.insertDouble(d, p.k)
            case _ => r.insert(v, p.k)
          }
          ref.insert(v, p.k)
        }
        (r, ref)
      }
      val inserted = filled.forall { case (r, ref) => same(r, ref) }
      filled.foreach { case (r, ref) => r.assignKeys(); ref.assignKeys() }
      val bytes = filled.map { case (r, ref) => (r.serializeTo(ops.codec), ref.serializeTo(ops.codec)) }
      val wire = bytes.forall { case (a, b) => a.sameElements(b) }
      // the final aggregate's path: an empty buffer merges every partial
      val fin = Reservoir.empty[Any](kf, 42L, ops.codec)
      val finRef = ReservoirRef.empty[Any](kf, 42L)
      val merged = bytes.forall { case (b, _) =>
        fin.merge(Reservoir.deserializeFrom(b, ops.codec))
        finRef.merge(ReservoirRef.deserializeFrom(b, ops.codec))
        same(fin, finRef)
      }
      // a keyed partial merging the others in place
      val (head, headRef) = filled.head
      val chained = bytes.tail.forall { case (b, _) =>
        head.merge(Reservoir.deserializeFrom(b, ops.codec))
        headRef.merge(ReservoirRef.deserializeFrom(b, ops.codec))
        same(head, headRef)
      }
      val results = Seq((fin, finRef), (head, headRef)).forall { case (r, ref) =>
        r.medianUpper(ops.ordering).map(canon) == ref.medianUpper(ops.ordering).map(canon) &&
          r.sortedSamples(ops.ordering).map(canon) == ref.sortedSamples(ops.ordering).map(canon) &&
          r.serializeTo(ops.codec).sameElements(ref.serializeTo(ops.codec))
      }
      (Prop(inserted) :| "samples after insert") && (Prop(wire) :| "partial bytes") &&
        (Prop(merged) :| "samples after each final merge") &&
        (Prop(chained) :| "samples after each in-place merge") &&
        (Prop(results) :| "median, sorted sample, final bytes")
    }
  }

  property("DOUBLE: same bytes, samples, median as the reference") =
    twin(DoubleType, doubles)

  property("STRING: same bytes, samples, median as the reference") =
    twin(StringType, strings)
}
