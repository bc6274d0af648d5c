package graft.functions

import graft.SparkTestBase

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

class AppxMedianSpec extends SparkTestBase {

  private def medianOf(vals: Seq[java.lang.Double], k: Int,
      partitions: Int): Option[Double] = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = vals.toDF("x").repartition(partitions)
    val r = df.agg(GraftFunctions.appx_median_bounded_double(col("x"), k).as("m"))
      .collect()(0)
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  test("README walkthrough: appx_median_bounded(x, 5) over 1.1..5.5 = 3.3") {
    // reference README.md:51-61
    for (p <- Seq(1, 2, 4)) {
      assert(medianOf(Seq(1.1, 2.2, 3.3, 4.4, 5.5), 5, p).contains(3.3))
    }
  }

  test("reference unit vector: 0..1000 with k=1001 -> 500 on any partitioning") {
    // reference median-test.cc:66-79
    val vals = (0 to 1000).map(i => java.lang.Double.valueOf(i.toDouble))
    for (p <- Seq(1, 2, 4, 8)) {
      assert(medianOf(vals, 1001, p).contains(500.0), s"partitions=$p")
    }
  }

  test("empty input -> NULL (median-test.cc:58-64)") {
    assert(medianOf(Seq.empty, 5, 1).isEmpty)
  }

  test("appx_quantile_typed generalizes the median index (exact regime)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = (0 to 1000).map(_.toDouble).toDF("x").repartition(4)
    def quant(q: Double): Double =
      df.agg(GraftFunctions.appx_quantile_typed(col("x"), q, 1001).as("m"))
        .collect()(0).getDouble(0)
    assert(quant(0.25) == 250.0) // floor(0.25 * 1001)
    assert(quant(0.5) == 500.0)  // the median's own n/2 index
    assert(quant(1.0) == 1000.0) // clamped to the last sample
    assert(quant(0.0) == 0.0)
  }

  test("STRING form renders integral medians like the reference (median.cc:29-37)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    def stringForm(vals: Seq[Double]): String =
      vals.toDF("x") // k >= n: exact regime, deterministic median
        .agg(GraftFunctions.appx_median_bounded(col("x"), vals.length).as("m"))
        .collect()(0).getString(0)
    // stringstream prints "500", not Java's "500.0"
    assert(stringForm((0 to 1000).map(_.toDouble)) == "500")
    assert(stringForm(Seq(1.1, 2.2, 3.3, 4.4, 5.5)) == "3.3")
    // the 6-significant-digit %g truncation, including the fixed ->
    // scientific switch at exponent 6 (median.cc:29-43)
    assert(stringForm(Seq(1234566.0, 1234567.0, 1234568.0)) == "1.23457e+06")
  }

  test("STRING rendering is byte-identical to C %g (median.cc:29-43)") {
    // expected bytes verified against glibc printf("%g") and DuckDB's
    // printf('%g') — including the exact-decimal-tie half-even case
    // (1234565.0) where Java's %.6g HALF_UP would print ...57e+06
    val cases = Seq(
      1234567.0 -> "1.23457e+06",
      500.0 -> "500",
      0.5 -> "0.5",
      123.456789 -> "123.457",
      0.00001 -> "1e-05",
      0.0001 -> "0.0001",
      1000000.0 -> "1e+06",
      999999.5 -> "1e+06",
      1234565.0 -> "1.23456e+06",
      -33.55 -> "-33.55",
      25.0 -> "25",
      3.3 -> "3.3",
      1e100 -> "1e+100",
      1.5e-7 -> "1.5e-07",
      0.000123456789 -> "0.000123457",
      1234564999999.0 -> "1.23456e+12",
      0.0 -> "0")
    cases.foreach { case (d, want) =>
      assert(AppxMedianBounded.gFormat(d) == want, s"gFormat($d)")
    }
    assert(AppxMedianBounded.gFormat(-0.0) == "-0")
    assert(AppxMedianBounded.gFormat(Double.NaN) == "nan")
    assert(AppxMedianBounded.gFormat(Double.PositiveInfinity) == "inf")
    assert(AppxMedianBounded.gFormat(Double.NegativeInfinity) == "-inf")
  }

  test("nulls are skipped, not counted (median.cc:130)") {
    val vals: Seq[java.lang.Double] =
      Seq[java.lang.Double](1.0, null, 2.0, null, 3.0, null, null)
    // 3 non-null values -> median 2.0; if nulls counted, index would shift
    assert(medianOf(vals, 100, 2).contains(2.0))
    // all-null group -> NULL
    assert(medianOf(Seq[java.lang.Double](null, null), 5, 1).isEmpty)
  }

  test("even n: upper middle, no interpolation (median.cc:299-301)") {
    assert(medianOf(Seq(1.0, 2.0, 3.0, 4.0), 10, 1).contains(3.0))
    assert(medianOf(Seq(1.0, 2.0, 3.0, 4.0), 10, 3).contains(3.0))
  }

  test("bounded regime k << n: estimate near true median across partitionings") {
    val vals = (1 to 20000).map(i => java.lang.Double.valueOf(i.toDouble))
    for (p <- Seq(1, 4)) {
      val m = medianOf(vals, 500, p).get
      assert(math.abs(m - 10000.0) < 2500.0, s"partitions=$p estimate=$m")
      }
  }

  test("SQL registration: reference DDL usage parses and runs") {
    import spark.implicits._
    GraftFunctions.register(spark)
    Seq(1.1, 2.2, 3.3, 4.4, 5.5).toDF("x").createOrReplaceTempView("numbers")
    val r = spark.sql(
      "SELECT CAST(appx_median_bounded(x, 5) AS DOUBLE) AS m FROM numbers")
      .collect()(0)
    assert(r.getDouble(0) == 3.3)
    // string form mirrors reference's STRING return type
    val s = spark.sql("SELECT appx_median_bounded(x, 5) AS m FROM numbers")
    assert(s.schema("m").dataType.typeName == "string")
  }

  test("grouped medians: one reservoir per group") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 10.0), ("b", 20.0), ("b", 30.0), ("b", 40.0)).toDF("g", "x")
      .repartition(3)
    val rows = df.groupBy(col("g"))
      .agg(GraftFunctions.appx_median_bounded_double(col("x"), 100).as("m"))
      .orderBy(col("g")).collect()
    assert(rows.toSeq.map(r => (r.getString(0), r.getDouble(1))) ==
      Seq(("a", 2.0), ("b", 30.0)))
  }

  test("sort-based aggregation fallback keeps the samples update added") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // one task: group a fills a hash-map buffer, b's row trips the
    // fallback at 2 keys, and a's second half goes through update into a
    // fresh buffer that then merges the dumped (keyed) first-half buffer
    val rows = (0 until 10000).map(i => ("a", i.toDouble)) ++ Seq(("b", 0.0)) ++
      (10000 until 20000).map(i => ("a", i.toDouble))
    val df = rows.toDF("g", "x").coalesce(1)
    val a = withConf("spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2") {
      df.groupBy(col("g")).agg(
        GraftFunctions.reservoir_sample(col("x"), 100).as("s"),
        GraftFunctions.appx_median_bounded_double(col("x"), 100).as("m"))
        .collect().find(_.getString(0) == "a").get
    }
    // both halves are 10000 rows, so about half the samples are late
    // ones; unkeyed update-side samples used to be evicted first (0 kept)
    val late = a.getSeq[Double](1).count(_ >= 10000.0)
    assert(late >= 25 && late <= 75, s"$late of 100 samples from the second half")
    val m = a.getDouble(2)
    assert(math.abs(m - 10000.0) < 3000.0, s"median estimate $m")
  }

  test("reservoir_sample exact regime: sorted array of all values") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq(5.0, 3.0, 1.0, 4.0, 2.0).toDF("x").repartition(2)
    val arr = df.agg(GraftFunctions.reservoir_sample(col("x"), 100).as("s"))
      .collect()(0).getSeq[Double](0)
    assert(arr == Seq(1.0, 2.0, 3.0, 4.0, 5.0))
  }

  test("reservoir_sample bounded: exactly k samples, all members of input") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = (1 to 1000).map(_.toDouble).toDF("x").repartition(4)
    val arr = df.agg(GraftFunctions.reservoir_sample(col("x"), 50).as("s"))
      .collect()(0).getSeq[Double](0)
    assert(arr.length == 50)
    assert(arr.forall(v => v >= 1.0 && v <= 1000.0 && v == math.floor(v)))
  }

  test("opt-in maxStringSampleLen mirrors the reference's 10-byte truncation") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // strings sharing a 10-byte prefix: truncated at 10 bytes they are
    // INDISTINGUISHABLE, so the truncated median is the cut prefix —
    // exactly the reference's MAX_STRING_SAMPLE_LEN corruption
    // (median.cc:49,67-86) — while the faithful default path orders the
    // full values and returns a complete string
    val df = Seq("prefix9876_aaa", "prefix9876_bbb", "prefix9876_ccc")
      .toDF("s").repartition(2)
    val full = df.agg(GraftFunctions.appx_median_typed(col("s"), 100).as("m"))
      .collect()(0).getString(0)
    assert(full == "prefix9876_bbb", s"faithful path must keep full values: $full")
    val trunc = df.agg(
      GraftFunctions.appx_median_typed_ref(col("s"), 100, 10).as("m"))
      .collect()(0).getString(0)
    assert(trunc == "prefix9876", s"truncated path must cut to 10 bytes: $trunc")
    // flag 0 = off: identical to the faithful path
    val off = df.agg(
      GraftFunctions.appx_median_typed_ref(col("s"), 100, 0).as("m"))
      .collect()(0).getString(0)
    assert(off == full)
    // SQL surface parses too
    df.createOrReplaceTempView("trunc_strings")
    val viaSql = spark.sql(
      "SELECT appx_median_typed_ref(s, 100, 10) AS m FROM trunc_strings")
      .collect()(0).getString(0)
    assert(viaSql == "prefix9876")
  }

  test("aggregate plan is partial -> exchange -> final ObjectHashAggregate") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = (1 to 100).map(_.toDouble).toDF("x").repartition(4)
    val plan = df.agg(GraftFunctions.appx_median_bounded_double(col("x"), 10))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
  }
}
