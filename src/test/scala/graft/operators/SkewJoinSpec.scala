package graft.operators

import graft.SparkTestBase

import org.apache.spark.sql.functions._

class SkewJoinSpec extends SparkTestBase {

  test("salted join returns exactly the plain join's rows") {
    import spark.implicits._
    // skewed left: key 1 is hot (10k rows), others sparse
    val left = ((1 to 10000).map(i => (1L, s"v$i")) ++
      (2L to 50L).map(k => (k, s"w$k"))).toDF("k", "lval").repartition(8)
    val right = (1L to 50L).map(k => (k, s"dim$k")).toDF("k", "rval")

    val plain = left.join(right, Seq("k"), "inner")
      .select("k", "lval", "rval").collect().map(_.toSeq)
    val salted = SkewJoin.saltedInnerJoin(left, right, "k", n = 8,
      saltBy = Seq("lval"))
      .select("k", "lval", "rval").collect().map(_.toSeq)
    assert(salted.length == plain.length,
      s"row multiplicity must match: ${salted.length} vs ${plain.length}")
    assert(salted.map(_.toString).sorted.toSeq == plain.map(_.toString).sorted.toSeq)
    assert(salted.length == 10000 + 49)
  }

  test("the hot key's rows spread across salt subkeys") {
    import spark.implicits._
    val left = (1 to 10000).map(i => (1L, s"v$i")).toDF("k", "lval")
    val salts = left.withColumn("_salt", pmod(hash(col("lval")), lit(8)))
      .groupBy("_salt").count().collect().map(r => r.getLong(1))
    assert(salts.length == 8, "all 8 salt buckets should be populated")
    assert(salts.max < 10000 * 0.25,
      s"no salt bucket may hold the whole hot key: ${salts.toSeq}")
  }

  test("a pre-existing _salt column is rejected, not silently clobbered") {
    import spark.implicits._
    val tainted = Seq((1L, 0)).toDF("k", "_salt")
    val clean = Seq((1L, "d")).toDF("k", "rval")
    val ex = intercept[IllegalArgumentException] {
      SkewJoin.saltedInnerJoin(tainted, clean, "k", n = 2, saltBy = Seq("k"))
    }
    assert(ex.getMessage.contains("_salt"))
  }

  test("auto-tune: a cold key gets fan-out 1, a hot key is spread") {
    import spark.implicits._
    val left = ((1 to 5000).map(i => (1L, s"v$i")) ++     // hot: 5000 rows
      (1 to 150).map(i => (2L, s"m$i")) ++                // warm: 150 rows
      Seq((3L, "w3"))).toDF("k", "lval")                  // cold: 1 row
    val fans = SkewJoin.fanouts(left, "k", targetRowsPerSalt = 100L,
      maxFanout = 16).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fans(3L) == 1, "cold key must not be replicated")
    assert(fans(2L) == 2, s"150 rows / 100 target => fan-out 2: $fans")
    assert(fans(1L) == 16, "hot key clamps to maxFanout")
  }

  test("auto-salted join returns exactly the plain join's rows") {
    import spark.implicits._
    val left = ((1 to 5000).map(i => (1L, s"v$i")) ++
      (2L to 50L).map(k => (k, s"w$k"))).toDF("k", "lval").repartition(8)
    // right carries a key (99) absent from left: inner join drops it
    val right = ((1L to 50L) :+ 99L).map(k => (k, s"dim$k")).toDF("k", "rval")
    val plain = left.join(right, Seq("k"), "inner")
      .select("k", "lval", "rval").collect().map(_.toSeq)
    val salted = SkewJoin.autoSaltedInnerJoin(left, right, "k",
      targetRowsPerSalt = 500L, maxFanout = 8, saltBy = Seq("lval"))
      .select("k", "lval", "rval").collect().map(_.toSeq)
    // multiset compare: a row matched under two salts would duplicate,
    // which a Set comparison could not see
    assert(salted.length == plain.length,
      s"row multiplicity must match: ${salted.length} vs ${plain.length}")
    assert(salted.map(_.toString).sorted.toSeq == plain.map(_.toString).sorted.toSeq)
    assert(salted.length == 5000 + 49)
  }

  test("forceShuffle under AQE skew-join: sort-merge, already balanced, " +
    "identical rows") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import spark.implicits._
    val left = ((1 to 5000).map(i => (1L, s"v$i")) ++
      (2L to 50L).map(k => (k, s"w$k"))).toDF("k", "lval").repartition(8)
    val right = (1L to 50L).map(k => (k, s"dim$k")).toDF("k", "rval")
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true") {
      val df = SkewJoin.autoSaltedInnerJoin(left, right, "k",
        targetRowsPerSalt = 500L, maxFanout = 8, saltBy = Seq("lval"),
        forceShuffle = true)
      val got = df.select("k", "lval", "rval").collect().map(_.toSeq)
      val plain = left.join(right, Seq("k"), "inner")
        .select("k", "lval", "rval").collect().map(_.toSeq)
      assert(got.length == plain.length &&
        got.map(_.toString).sorted.toSeq == plain.map(_.toString).sorted.toSeq)
      // AQE's FINAL plan: the salted join really sort-merged (the path
      // the skew splitter inspects), and found nothing to split —
      // salting had already spread the hot key across its fan-out
      val adaptive = df.queryExecution.executedPlan
        .collectFirst { case a: AdaptiveSparkPlanExec => a }
        .getOrElse(fail("no adaptive plan - AQE off?"))
      val smjs = graft.PlanWalk.operators(adaptive)
        .collect { case j: SortMergeJoinExec => j }
      val salted = smjs.filter(_.leftKeys.length == 2) // (key, _salt)
      assert(salted.nonEmpty,
        s"salted join did not sort-merge:\n${adaptive.toString.take(3000)}")
      assert(salted.forall(!_.isSkewJoin),
        "AQE should find no residual skew once the salt spread the hot key")
    }
  }

  test("auto-salted join rejects reserved columns on either input") {
    import spark.implicits._
    val tainted = Seq((1L, 0)).toDF("k", "_fan")
    val clean = Seq((1L, "d")).toDF("k", "rval")
    val ex = intercept[IllegalArgumentException] {
      SkewJoin.autoSaltedInnerJoin(clean, tainted, "k",
        targetRowsPerSalt = 10L, maxFanout = 4, saltBy = Seq("k"))
    }
    assert(ex.getMessage.contains("_fan"))
  }
}
