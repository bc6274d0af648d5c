package graft.core

import org.scalatest.funsuite.AnyFunSuite

class ReservoirSpec extends AnyFunSuite {

  // the DOUBLE storage appx_median_bounded samples into
  private def filled(vals: Seq[Double], k: Int, seed: Long = 1L): Reservoir[Double] = {
    val r = Reservoir.empty[Double](k, seed, Reservoir.DoubleCodec)
    vals.foreach(v => r.insertDouble(v, k))
    r
  }

  test("empty reservoir -> no median (SQL NULL)") {
    assert(Reservoir.empty[Double](10, 1L).medianUpper.isEmpty)
  }

  test("exact regime k >= n: upper-middle median, no interpolation") {
    // reference median-test.cc:66-79: 0..1000 with k=1001 -> 500
    val r = filled((0 to 1000).map(_.toDouble), 1001)
    assert(r.medianUpper.contains(500.0))
    // even n: upper middle (median.cc:299-301)
    val r2 = filled(Seq(1.0, 2.0, 3.0, 4.0), 10)
    assert(r2.medianUpper.contains(3.0))
    // README walkthrough values (README.md:51-61)
    val r3 = filled(Seq(1.1, 2.2, 3.3, 4.4, 5.5), 5)
    assert(r3.medianUpper.contains(3.3))
  }

  test("state is bounded by k and sourceSize counts all inserts") {
    val r = filled((1 to 10000).map(_.toDouble), 100)
    assert(r.numSamples == 100)
    assert(r.sourceSize == 10000L)
  }

  test("bounded regime: sampled median lands near the true median") {
    val r = filled((1 to 100000).map(_.toDouble), 1000, seed = 7L)
    val m = r.medianUpper.get
    // k=1000 -> rank stderr ~ n/(2 sqrt(k)) ~ 1.6%; allow 10%
    assert(math.abs(m - 50000.0) < 10000.0, s"median estimate $m too far")
  }

  test("merge in exact regime keeps every sample") {
    val a = filled((1 to 50).map(_.toDouble), 200)
    val b = filled((51 to 100).map(_.toDouble), 200)
    a.assignKeys(); b.assignKeys()
    a.merge(b)
    assert(a.numSamples == 100)
    assert(a.sourceSize == 100L)
    assert(a.sortedSamples.toSeq == (1 to 100).map(_.toDouble))
    assert(a.medianUpper.contains(51.0))
  }

  test("merge caps at maxSamples and takes the union max of k") {
    val a = filled((1 to 100).map(_.toDouble), 60)
    val b = filled((101 to 200).map(_.toDouble), 80)
    a.assignKeys(); b.assignKeys()
    a.merge(b)
    assert(a.maxSamples == 80)
    assert(a.numSamples == 80)
    assert(a.sourceSize == 200L)
  }

  test("serialization round-trips values, keys, counts") {
    val r = filled((1 to 500).map(_.toDouble), 100, seed = 3L)
    r.assignKeys()
    val back = Reservoir.deserializeFrom(r.serializeTo(Reservoir.DoubleCodec), Reservoir.DoubleCodec)
    assert(back.maxSamples == r.maxSamples)
    assert(back.sourceSize == r.sourceSize)
    assert(back.samples == r.samples)
  }

  test("assignKeys gives keys in ((n-k)/n, 1] (median.cc:177-187)") {
    val r = filled((1 to 1000).map(_.toDouble), 100, seed = 5L)
    r.assignKeys()
    val lo = (r.sourceSize - r.numSamples).toDouble / r.sourceSize
    assert(r.samples.forall { case (_, k) => k > lo && k <= 1.0 })
  }

  test("inclusive draw range [0, max] (median.cc:107-110)") {
    val rng = new Reservoir.Rng(11L)
    val draws = (1 to 2000).map(_ => rng.nextLongInclusive(3L))
    assert(draws.min == 0L && draws.max == 3L)
    assert(rng.nextLongInclusive(0L) == 0L)
  }

  test("Rng draws java.util.Random's streams") {
    for (seed <- Seq(0L, 1L, 42L, -7L, Long.MaxValue)) {
      val rng = new Reservoir.Rng(seed)
      val ref = new java.util.Random(seed)
      for (bound <- Seq(1, 2, 3, 7, 64, 100, 1 << 30, Int.MaxValue); _ <- 1 to 200) {
        assert(rng.nextInt(bound) == ref.nextInt(bound), s"seed $seed bound $bound")
        assert(rng.nextLong() == ref.nextLong(), s"seed $seed")
      }
    }
  }
}
