package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** Registration point for all graft SQL functions, mirroring the
  * reference's `CREATE AGGREGATE FUNCTION` DDL step
  * (`/root/reference/README.md:40-46`) with Spark's
  * `FunctionRegistry`. After `register(spark)`, the literal SQL of the
  * reference README — `SELECT CAST(appx_median_bounded(x, 5) AS DOUBLE)
  * FROM numbers` — parses and runs unchanged.
  *
  * Registration is idempotent; query entry points call it eagerly. */
object GraftFunctions {

  private def two(name: String)(exprs: Seq[Expression]): (Expression, Expression) = {
    require(exprs.length == 2,
      s"$name(value, max_samples) takes 2 arguments, got ${exprs.length}")
    // Numeric inputs are welcome; the aggregate itself wants exactly
    // (DOUBLE, INT), like the reference signature (median.h:44).
    (Cast(exprs.head, DoubleType), Cast(exprs(1), IntegerType))
  }

  /** Typed variant: the value expression keeps its own data type; only
    * `max_samples` is normalized to INT. */
  private def twoTyped(name: String)(exprs: Seq[Expression]): (Expression, Expression) = {
    require(exprs.length == 2,
      s"$name(value, max_samples) takes 2 arguments, got ${exprs.length}")
    (exprs.head, Cast(exprs(1), IntegerType))
  }

  // ---- Expression builders, one per row of `table` below ----

  private def buildAppxMedianBounded(exprs: Seq[Expression],
      asString: Boolean): Expression = {
    val name = if (asString) "appx_median_bounded" else "appx_median_bounded_double"
    val (v, k) = two(name)(exprs)
    AppxMedianBounded(v, k, asString)
  }

  // Typed forms: value keeps its own type (numeric/string/decimal/
  // date/timestamp), realizing the reference's latent per-type
  // comparators (median.cc:196-221) — no cast to DOUBLE.
  private def buildAppxMedianTyped(exprs: Seq[Expression]): Expression = {
    val (v, k) = twoTyped("appx_median_typed")(exprs)
    AppxMedianBounded(v, k, asString = false)
  }

  /** Reference-parity variant: third argument is the opt-in string
    * sample truncation length (median.cc:49's MAX_STRING_SAMPLE_LEN
    * generalized to an argument; pass 10 for exact reference
    * behavior). Kept a SEPARATE name so the faithful default path
    * stays truncation-free. */
  private def buildAppxMedianTypedRef(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3,
      s"appx_median_typed_ref(value, max_samples, max_string_sample_len) " +
        s"takes 3 arguments, got ${exprs.length}")
    AppxMedianBounded(exprs.head, Cast(exprs(1), IntegerType),
      asString = false,
      maxStringSampleLen = foldableInt(exprs(2), "max_string_sample_len"))
  }

  private def foldableInt(e: Expression, name: String): Int = {
    require(e.foldable, s"$name must be a constant")
    Cast(e, IntegerType).eval() match {
      case i: java.lang.Integer => i.intValue
      case other => throw new IllegalArgumentException(
        s"$name must be an INT constant, got $other")
    }
  }

  private def buildAppxQuantileTyped(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3,
      s"appx_quantile_typed(value, q, max_samples) takes 3 arguments, got ${exprs.length}")
    AppxQuantileBounded(exprs.head,
      Cast(exprs(1), DoubleType), Cast(exprs(2), IntegerType))
  }

  private def buildReservoirSample(exprs: Seq[Expression]): Expression = {
    val (v, k) = twoTyped("reservoir_sample")(exprs)
    ReservoirSampleAgg(v, k)
  }

  private def buildTopK(exprs: Seq[Expression],
      descending: Boolean): Expression = {
    val (v, k) = twoTyped(if (descending) "max_k" else "min_k")(exprs)
    TopKAgg(v, k, descending)
  }

  private def buildHeavyHitters(exprs: Seq[Expression]): Expression = {
    val (v, k) = twoTyped("heavy_hitters")(exprs)
    HeavyHittersAgg(v, k)
  }

  private def buildCountMin(exprs: Seq[Expression]): Expression = {
    val (v, k) = twoTyped("count_min")(exprs)
    CountMinAgg(v, k)
  }

  private def buildQuantileSketch(exprs: Seq[Expression]): Expression = {
    val (v, k) = twoTyped("quantile_sketch")(exprs)
    QuantileSketchAgg(v, k)
  }

  private def buildGramSums(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"gram_sums(qv, d) takes 2 arguments, got ${exprs.length}")
    GramAgg(exprs.head, Cast(exprs(1), IntegerType))
  }

  private def buildVecDot(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, s"vec_dot(a, b) takes 2 arguments, got ${exprs.length}")
    VecDotProduct(exprs.head, exprs(1))
  }

  private def buildSimHash60(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1,
      s"simhash60(text) takes 1 argument, got ${exprs.length}")
    SimHash60(exprs.head)
  }

  private def buildBloomAgg(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3,
      s"bloom_agg(key, num_bits, num_hashes) takes 3 arguments, got ${exprs.length}")
    BloomAgg(exprs.head, Cast(exprs(1), IntegerType), Cast(exprs(2), IntegerType))
  }

  private def buildBloomMightContain(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3,
      s"bloom_might_contain(bloom, key, num_hashes) takes 3 arguments, got ${exprs.length}")
    BloomMightContain(exprs.head, exprs(1), Cast(exprs(2), IntegerType))
  }

  /** One SQL function: its name, `DESCRIBE FUNCTION` usage, implementing
    * class and expression builder. */
  private[graft] final case class FunctionDef(name: String, usage: String,
      impl: Class[_], builder: Seq[Expression] => Expression)

  /** Every graft SQL function. Both registration paths read this one
    * table: [[register]] (temp functions on one session) and
    * [[graft.GraftExtensions]] (every session the cluster builds). */
  private[graft] val table: Seq[FunctionDef] = Seq(
    FunctionDef("appx_median_bounded",
      "_FUNC_(value, max_samples) - bounded-reservoir approximate median as STRING (reference parity)",
      classOf[AppxMedianBounded], buildAppxMedianBounded(_, asString = true)),
    FunctionDef("appx_median_bounded_double",
      "_FUNC_(value, max_samples) - bounded-reservoir approximate median as DOUBLE",
      classOf[AppxMedianBounded], buildAppxMedianBounded(_, asString = false)),
    FunctionDef("appx_median_typed",
      "_FUNC_(value, max_samples) - typed bounded-reservoir median (numeric/string/decimal/date/timestamp)",
      classOf[AppxMedianBounded], buildAppxMedianTyped),
    FunctionDef("appx_median_typed_ref",
      "_FUNC_(value, max_samples, max_string_sample_len) - typed median with the reference's string-sample truncation",
      classOf[AppxMedianBounded], buildAppxMedianTypedRef),
    FunctionDef("appx_quantile_typed",
      "_FUNC_(value, q, max_samples) - typed bounded-reservoir quantile (q in [0, 1])",
      classOf[AppxQuantileBounded], buildAppxQuantileTyped),
    FunctionDef("reservoir_sample",
      "_FUNC_(value, k) - value-sorted bounded reservoir sample as ARRAY",
      classOf[ReservoirSampleAgg], buildReservoirSample),
    FunctionDef("max_k",
      "_FUNC_(value, k) - the k largest values per group, descending",
      classOf[TopKAgg], buildTopK(_, descending = true)),
    FunctionDef("min_k",
      "_FUNC_(value, k) - the k smallest values per group, ascending",
      classOf[TopKAgg], buildTopK(_, descending = false)),
    FunctionDef("heavy_hitters",
      "_FUNC_(value, capacity) - Misra-Gries frequent-items summary as MAP<value, BIGINT>",
      classOf[HeavyHittersAgg], buildHeavyHitters),
    FunctionDef("count_min",
      "_FUNC_(value, width) - count-min sketch counter grid as ARRAY<BIGINT>",
      classOf[CountMinAgg], buildCountMin),
    FunctionDef("quantile_sketch",
      "_FUNC_(value, sub_bucket_bits) - HDR-style mergeable quantile sketch as MAP<BIGINT, BIGINT>",
      classOf[QuantileSketchAgg], buildQuantileSketch),
    FunctionDef("gram_sums",
      "_FUNC_(qv, d) - exact integer count, sums and upper-triangle Gram sums of a quantized vector column",
      classOf[GramAgg], buildGramSums),
    FunctionDef("vec_dot",
      "_FUNC_(a, b) - codegen'd dot product of two ARRAY<DOUBLE> vectors",
      classOf[VecDotProduct], buildVecDot),
    FunctionDef("simhash60",
      "_FUNC_(text) - codegen'd 60-bit frequency-weighted SimHash",
      classOf[SimHash60], buildSimHash60),
    FunctionDef("bloom_agg",
      "_FUNC_(key, num_bits, num_hashes) - bloom-filter bit set over BIGINT keys as BINARY",
      classOf[BloomAgg], buildBloomAgg),
    FunctionDef("bloom_might_contain",
      "_FUNC_(bloom, key, num_hashes) - bloom-filter membership probe",
      classOf[BloomMightContain], buildBloomMightContain))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    table.foreach(f =>
      registry.createOrReplaceTempFunction(f.name, f.builder, "scala_udf"))
  }

  // ---- DataFrame/Column API (requires register(spark) on the active
  // session; resolved at analysis time via the function registry) ----

  /** Codegen'd dot product over ARRAY<DOUBLE> columns. */
  def vec_dot(a: Column, b: Column): Column =
    call_function("vec_dot", a, b)

  /** STRING-returning form, signature-parity with the reference UDA. */
  def appx_median_bounded(value: Column, maxSamples: Int): Column =
    call_function("appx_median_bounded", value, lit(maxSamples))

  /** DOUBLE-returning form for direct numeric use. */
  def appx_median_bounded_double(value: Column, maxSamples: Int): Column =
    call_function("appx_median_bounded_double", value, lit(maxSamples))

  /** Typed median: result has the value column's own type (numeric,
    * string, decimal, date, timestamp). */
  def appx_median_typed(value: Column, maxSamples: Int): Column =
    call_function("appx_median_typed", value, lit(maxSamples))

  /** Reference-parity typed median with the opt-in string-sample
    * truncation (10 = the reference's MAX_STRING_SAMPLE_LEN). */
  def appx_median_typed_ref(value: Column, maxSamples: Int,
      maxStringSampleLen: Int): Column =
    call_function("appx_median_typed_ref", value, lit(maxSamples),
      lit(maxStringSampleLen))

  /** Typed quantile: sorted samples[floor(q * n)], the median's
    * upper-middle rule generalized; exact when maxSamples >= n. */
  def appx_quantile_typed(value: Column, q: Double, maxSamples: Int): Column =
    call_function("appx_quantile_typed", value, lit(q), lit(maxSamples))

  /** Bounded sample of a column as a value-sorted ARRAY of its type. */
  def reservoir_sample(value: Column, k: Int): Column =
    call_function("reservoir_sample", value, lit(k))

  /** The k largest values per group, descending — O(k) state, map-side
    * combined (vs a full window sort). */
  def max_k(value: Column, k: Int): Column =
    call_function("max_k", value, lit(k))

  /** The k smallest values per group, ascending. */
  def min_k(value: Column, k: Int): Column =
    call_function("min_k", value, lit(k))

  /** Misra-Gries frequent-items summary: MAP<value, BIGINT> of at most
    * `capacity` items with guaranteed-bounded undercounts. */
  def heavy_hitters(value: Column, capacity: Int): Column =
    call_function("heavy_hitters", value, lit(capacity))

  /** Count-min sketch over a STRING column: Depth x width counter
    * grid (flattened row-major ARRAY<BIGINT>), never-underestimating
    * frequency lookups via the replayable md5-slice hash family. */
  def count_min(value: Column, width: Int): Column =
    call_function("count_min", value, lit(width))

  /** HDR-style mergeable quantile sketch over non-negative BIGINT
    * values: MAP<bucket, count> with relative quantile error below
    * 2^-subBucketBits (deterministic and partition-independent; see
    * [[QuantileSketchAgg]]). */
  def quantile_sketch(value: Column, subBucketBits: Int): Column =
    call_function("quantile_sketch", value, lit(subBucketBits))

  /** Exact integer scatter summary of a quantized vector corpus:
    * [n, S_1..S_d, upper-triangle Gram sums] in one aggregate pass —
    * the single-exchange input of the PCA/whitening gates. */
  def gram_sums(qv: Column, d: Int): Column =
    call_function("gram_sums", qv, lit(d))

  /** Codegen'd 60-bit SimHash of a STRING column (the scan-speed form
    * of TextSketches.simhash). */
  def simhash60(text: Column): Column =
    call_function("simhash60", text)

  /** Bloom-filter build over BIGINT keys -> BINARY bit set. */
  def bloom_agg(key: Column, numBits: Int, numHashes: Int): Column =
    call_function("bloom_agg", key, lit(numBits), lit(numHashes))

  /** Bloom-filter probe; numHashes must match the build. */
  def bloom_might_contain(bloom: Column, key: Column, numHashes: Int): Column =
    call_function("bloom_might_contain", bloom, key, lit(numHashes))
}
