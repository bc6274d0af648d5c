package graft.functions

import graft.core.Reservoir

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared TypedImperativeAggregate plumbing for the reservoir-backed
  * aggregates. The buffer is the O(max_samples)
  * [[graft.core.Reservoir]]; per-type ordering + wire codec come from
  * [[ValueOps]], realizing the reference's latent per-type comparators
  * (`/root/reference/median.cc:196-221`) — any type in
  * `ValueOps.forType` (numerics, STRING, DECIMAL, DATE, TIMESTAMP) can
  * be sampled.
  *
  * The storage follows the child's type through its codec: a DOUBLE
  * child (every `appx_median_bounded` call, whose registration casts
  * the input to DOUBLE) samples into a `double[]`, and a bound DOUBLE
  * column is read from the row without boxing.
  *
  * Spark's `ObjectHashAggregateExec` drives the exact distributed
  * contract the Impala UDA ABI encodes — partial update + serialize,
  * shuffle exchange, merge + final eval — so no custom physical
  * operator is needed; the plan is partial-agg → exchange → final-agg,
  * identical in shape to the reference's pre-agg/merge-agg fragments
  * (SURVEY §3.1). State stays O(k) per group regardless of input size:
  * the property that keeps the plan safe at 100 TB.
  */
abstract class ReservoirAggBase extends ConstantKAggregate[Reservoir[Any]] {
  def maxSamplesExp: Expression
  def seed: Long

  /** Opt-in bug-for-bug parity with the reference's string-sample
    * truncation (`median.cc:49,67-86`, MAX_STRING_SAMPLE_LEN = 10):
    * when > 0 and the child is STRING, every sampled value is cut to
    * this many RAW BYTES before insert — the reference's memcpy
    * semantics, including mid-codepoint cuts. Default 0 = OFF: the
    * truncation corrupts medians over strings sharing long prefixes,
    * which is why the faithful path keeps full values (the reference's
    * exported functions never instantiate its string path, so parity
    * here is a flag, not the default). */
  def maxStringSampleLen: Int = 0

  final override def kExp: Expression = maxSamplesExp
  override protected def kName: String = "max_samples"

  override def createAggregationBuffer(): Reservoir[Any] =
    Reservoir.empty[Any](k, seed, ops.codec)

  /** The row ordinal of a bound DOUBLE child, else -1. */
  @transient private lazy val doubleOrdinal: Int = child match {
    case b: BoundReference if b.dataType == DoubleType => b.ordinal
    case _ => -1
  }

  private def retained(v: Any): Any = {
    val r = ops.retain(v)
    r match {
      case u: UTF8String
          if maxStringSampleLen > 0 && u.numBytes > maxStringSampleLen =>
        UTF8String.fromBytes(u.getBytes, 0, maxStringSampleLen)
      case _ => r
    }
  }

  override def update(buf: Reservoir[Any], input: InternalRow): Reservoir[Any] = {
    val d = doubleOrdinal
    if (d >= 0) {
      if (!input.isNullAt(d)) buf.insertDouble(input.getDouble(d), k)
    } else {
      val v = child.eval(input)
      if (v != null) buf.insert(retained(v), k)
    }
    buf
  }

  override def merge(buf: Reservoir[Any], other: Reservoir[Any]): Reservoir[Any] = {
    buf.merge(other); buf
  }

  override def serialize(buf: Reservoir[Any]): Array[Byte] = {
    buf.assignKeys() // weight keys assigned at partial-output time (median.cc:176-192)
    buf.serializeTo(ops.codec)
  }

  override def deserialize(bytes: Array[Byte]): Reservoir[Any] =
    Reservoir.deserializeFrom(bytes, ops.codec)
}

/** `appx_median_bounded(value, max_samples INT)` — approximate median
  * via a bounded reservoir sample, the one aggregate exported by the
  * reference library (`scalingdata/rocana-impala-udfs`
  * `median.h:42-50`, `README.md:32`).
  *
  * Semantics preserved from the reference (SURVEY §2.1 invariants):
  * nulls skipped and not counted; empty group → NULL; result = sorted
  * samples[n/2] (upper middle, no interpolation); exact when
  * `max_samples >= #non-null inputs`; weighted (size-proportional)
  * reservoir merge. `max_samples` must be a foldable constant — the
  * reference expects the same (`median.cc:135-141`).
  *
  * @param asString when true, returns the result formatted as STRING to
  *   mirror the reference signature `(DOUBLE, INT) RETURNS STRING`
  *   (`README.md:40-46`; Impala <= 2.x could not declare a separate
  *   intermediate type). Callers `CAST(... AS DOUBLE)` back, which
  *   round-trips exactly. When false, returns the input type directly.
  */
case class AppxMedianBounded(
    child: Expression,
    maxSamplesExp: Expression,
    asString: Boolean = true,
    seed: Long = AppxMedianBounded.DefaultSeed,
    override val maxStringSampleLen: Int = 0,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends ReservoirAggBase {

  override def dataType: DataType = if (asString) StringType else child.dataType

  override def eval(buf: Reservoir[Any]): Any = buf.medianUpper(ops.ordering) match {
    case None => null
    case Some(m) =>
      if (asString) UTF8String.fromString(AppxMedianBounded.render(m)) else m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): AppxMedianBounded =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): AppxMedianBounded =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AppxMedianBounded =
    copy(child = newChildren(0), maxSamplesExp = newChildren(1))

  override def prettyName: String =
    if (asString) "appx_median_bounded"
    else if (child.dataType == DoubleType) "appx_median_bounded_double"
    else "appx_median_typed"
}

object AppxMedianBounded {
  /** Fixed default seed: the oracle-checked queries run in the exact
    * regime (k >= n) where the RNG is never consulted, and the bounded
    * regime is verified by tolerance tests, so a fixed seed just makes
    * local debugging reproducible. */
  val DefaultSeed: Long = 42L

  /** STRING-form rendering — byte parity with the reference's
    * `stringstream << double` (`median.cc:29-43`): C `%g` with the
    * default precision 6. */
  private[functions] def render(m: Any): String = m match {
    case d: java.lang.Double => gFormat(d.doubleValue)
    case other => other.toString
  }

  /** C `printf("%g", d)` / C++ default-ostream formatting: round the
    * EXACT binary value to 6 significant decimal digits (half-even,
    * the IEEE correct rounding glibc and DuckDB's printf apply), then
    * fixed notation when the decimal exponent lands in [-4, 6) and
    * scientific with a sign and >= 2 exponent digits otherwise,
    * trailing zeros stripped in both styles. Java's `%.6g` is NOT
    * this: it keeps trailing zeros and rounds HALF_UP, which diverges
    * from the stringstream on exact decimal ties. */
  private[functions] def gFormat(d: Double): String = {
    if (java.lang.Double.isNaN(d)) "nan"
    else if (d == Double.PositiveInfinity) "inf"
    else if (d == Double.NegativeInfinity) "-inf"
    else if (d == 0.0) { if (1.0 / d < 0) "-0" else "0" }
    else {
      val rounded = new java.math.BigDecimal(d).round(
        new java.math.MathContext(6, java.math.RoundingMode.HALF_EVEN))
      val exp = rounded.precision - rounded.scale - 1
      if (exp < -4 || exp >= 6) {
        val mant = rounded.movePointLeft(exp).stripTrailingZeros.toPlainString
        val sign = if (exp < 0) "-" else "+"
        f"${mant}e$sign${math.abs(exp)}%02d"
      } else rounded.stripTrailingZeros.toPlainString
    }
  }
}

/** `appx_quantile_typed(value, q DOUBLE, max_samples INT)` — the
  * reference UDA's finalize generalized from the upper-middle median
  * to any quantile: result = value-sorted samples[min(floor(q * n),
  * n - 1)] (q = 0.5 reproduces the median's n/2 index exactly,
  * `median.cc:299-301`); NULL on empty. Exact when `max_samples >= n`;
  * bounded-regime estimate otherwise. Same typed comparator surface
  * as `appx_median_typed`. */
case class AppxQuantileBounded(
    child: Expression,
    qExp: Expression,
    maxSamplesExp: Expression,
    seed: Long = AppxMedianBounded.DefaultSeed,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends ReservoirAggBase {

  override def children: Seq[Expression] = Seq(child, qExp, maxSamplesExp)
  override def dataType: DataType = child.dataType

  private lazy val q: Double = qExp.eval() match {
    case n: java.lang.Number => n.doubleValue()
    case other => throw new IllegalArgumentException(
      s"$prettyName: q must be a numeric constant, got $other")
  }

  override def checkInputDataTypes(): TypeCheckResult =
    super.checkInputDataTypes() match {
      case TypeCheckResult.TypeCheckSuccess =>
        if (qExp.dataType != DoubleType) {
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName: q must be DOUBLE, got ${qExp.dataType.sql}")
        } else if (!qExp.foldable) {
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName: q must be a constant (foldable) expression")
        } else if (qExp.eval() == null || q < 0.0 || q > 1.0) {
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName: q must be in [0, 1]")
        } else TypeCheckResult.TypeCheckSuccess
      case failure => failure
    }

  override def eval(buf: Reservoir[Any]): Any =
    if (buf.numSamples == 0) null
    else {
      val s = buf.sortedSamples(ops.ordering)
      s(math.min((q * s.length).toInt, s.length - 1))
    }

  override def withNewMutableAggBufferOffset(newOffset: Int): AppxQuantileBounded =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): AppxQuantileBounded =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AppxQuantileBounded =
    copy(child = newChildren(0), qExp = newChildren(1),
      maxSamplesExp = newChildren(2))

  override def prettyName: String = "appx_quantile_typed"
}

/** `reservoir_sample(value, k INT) -> ARRAY<value type>` — the
  * generalized form of the same reservoir state: returns the (value-
  * sorted) bounded sample itself instead of its median. Exact (= all
  * inputs, sorted) when `k >= #non-null inputs`; NULL on empty group.
  * Generalization noted in SURVEY §2.3 (the reference keeps the sample
  * internal; `median.cc:88-111`). */
case class ReservoirSampleAgg(
    child: Expression,
    maxSamplesExp: Expression,
    seed: Long = AppxMedianBounded.DefaultSeed,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends ReservoirAggBase {

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)

  override def eval(buf: Reservoir[Any]): Any =
    if (buf.numSamples == 0) null
    else new GenericArrayData(buf.sortedSamples(ops.ordering).toArray)

  override def withNewMutableAggBufferOffset(newOffset: Int): ReservoirSampleAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ReservoirSampleAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ReservoirSampleAgg =
    copy(child = newChildren(0), maxSamplesExp = newChildren(1))

  override def prettyName: String = "reservoir_sample"
}
