package graft.operators

import graft.{JobCounts, SparkTestBase}

/** The driver-side trainer against the per-round Spark loop
  * ([[BpeTrainRef]]): identical merge lists, byte for byte, on the
  * fixture corpus and on inputs that stress the tie-break, the
  * `replace` semantics and the word filter. */
class BpeTrainEquivalenceSpec extends SparkTestBase {

  import spark.implicits._

  private def assertSameMerges(texts: Seq[String], rounds: Int): Seq[BpeTrain.Merge] = {
    val docs = texts.toDF("text")
    val got = BpeTrain.train(docs, "text", rounds)
    assert(got == BpeTrainRef.train(docs, "text", rounds))
    got
  }

  test("sf0.01 documents, 8 rounds: the same merges as the per-round Spark loop") {
    val docs = graft.sources.Tables.load(spark, sf001, "documents")
    val got = BpeTrain.train(docs, "text", 8)
    assert(got.length == 8)
    assert(got == BpeTrainRef.train(docs, "text", 8))
  }

  test("a small corpus trained until no pair is left") {
    val texts = Seq("low lower lowest newer newest", "wider low new")
    val got = assertSameMerges(texts, 1000)
    // training stopped because every word became one symbol
    assert(got.length < 1000)
    assert(texts.flatMap(_.split(" ")).toSet.map((w: String) => s"|$w|")
      .subsetOf(got.map(_.merged).toSet))
  }

  test("count ties break in UTF-8 byte order, not UTF-16 order") {
    // U+1F600 is a surrogate pair (0xD83D…) below U+FF61 in UTF-16, but
    // its UTF-8 lead byte 0xF0 sorts above U+FF61's 0xEF
    val got = assertSameMerges(Seq("x😀 x｡"), 1)
    assert(got.head.pair == "|x| |｡|" && got.head.n == 1L)
  }

  test("overlapping repeats merge left to right without overlap") {
    val got = assertSameMerges(Seq("aaaa abab aaa abab"), 8)
    assert(got.head == BpeTrain.Merge(1, "|a| |a|", "|aa|", 5L))
  }

  test("words containing the | sentinel are left out") {
    val got = assertSameMerges(Seq("a|b ab |x x| ab"), 8)
    assert(got == Seq(BpeTrain.Merge(1, "|a| |b|", "|ab|", 2L)))
  }

  test("doubled spaces yield empty tokens, which are dropped") {
    assertSameMerges(Seq("ab  ab   cd ", "  ef"), 8)
  }

  test("rounds = 1 learns exactly the first merge") {
    val got = assertSameMerges(Seq("low low lower newest"), 1)
    assert(got.map(_.round) == Seq(1))
  }

  test("train runs the same Spark jobs for 1 round as for 8") {
    val docs = graft.sources.Tables.load(spark, sf0001, "documents")
    def jobs(rounds: Int) = JobCounts.inGroup(spark, s"bpe-train-r$rounds") {
      JobCounts.withGroup(spark, s"bpe-train-r$rounds") {
        BpeTrain.train(docs, "text", rounds)
      }
    }
    val one = jobs(1)
    assert(one > 0)
    assert(jobs(8) == one)
  }
}
