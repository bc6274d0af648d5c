package graft.functions

import graft.core.{Reservoir, ValueCodec}

import java.nio.ByteBuffer

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-DataType ordering + wire codec over Catalyst internal values,
  * realizing the reference's latent per-type sample comparators
  * (`/root/reference/median.cc:196-221`): the generic `<` for
  * numerics, byte-wise string compare (the memcmp specialization at
  * `median.cc:201-208`), numeric compare for decimals (`:210-214`),
  * and chronological compare for timestamps (`:216-221`, date then
  * time-of-day == micros-since-epoch order here).
  *
  * Values are Catalyst internal representations: Double/Float/Long/
  * Int, Long micros for TIMESTAMP, Int days for DATE, [[UTF8String]]
  * for STRING, [[org.apache.spark.sql.types.Decimal]] for DECIMAL.
  */
final case class ValueOps(
    ordering: Ordering[Any],
    codec: ValueCodec[Any],
    /** Defensive copy for values whose Catalyst representation may alias
      * a reused row buffer (UTF8String); identity for immutable types. */
    retain: Any => Any = identity)

object ValueOps {

  private def ord[T](o: Ordering[T]): Ordering[Any] =
    o.asInstanceOf[Ordering[Any]]

  private def fixed[T](w: Int, wr: (ByteBuffer, T) => Unit,
      rd: ByteBuffer => T): ValueCodec[Any] = new ValueCodec[Any] {
    def write(buf: ByteBuffer, v: Any): Unit = wr(buf, v.asInstanceOf[T])
    def read(buf: ByteBuffer): Any = rd(buf)
    def size(v: Any): Int = w
  }

  // the reservoir keeps DOUBLE samples in a primitive array
  private val doubleOps = ValueOps(ord(Ordering.Double.TotalOrdering),
    Reservoir.DoubleCodec.asInstanceOf[ValueCodec[Any]])
  private val floatOps = ValueOps(ord(Ordering.Float.TotalOrdering),
    fixed[Float](4, _.putFloat(_), _.getFloat))
  private val longOps = ValueOps(ord(Ordering.Long),
    fixed[Long](8, _.putLong(_), _.getLong))
  private val intOps = ValueOps(ord(Ordering.Int),
    fixed[Int](4, _.putInt(_), _.getInt))

  private val utf8Ordering: Ordering[UTF8String] = new Ordering[UTF8String] {
    def compare(a: UTF8String, b: UTF8String): Int = a.compareTo(b)
  }

  private val stringOps = ValueOps(
    ord(utf8Ordering),
    retain = v => v.asInstanceOf[UTF8String].clone(),
    codec = new ValueCodec[Any] {
      def write(buf: ByteBuffer, v: Any): Unit = {
        val b = v.asInstanceOf[UTF8String].getBytes
        buf.putInt(b.length); buf.put(b)
      }
      def read(buf: ByteBuffer): Any = {
        val b = new Array[Byte](buf.getInt); buf.get(b)
        UTF8String.fromBytes(b)
      }
      def size(v: Any): Int = 4 + v.asInstanceOf[UTF8String].numBytes()
    })

  private val decimalOps = ValueOps(
    ord(Ordering.by[Decimal, BigDecimal](_.toBigDecimal)),
    new ValueCodec[Any] {
      def write(buf: ByteBuffer, v: Any): Unit = {
        val jbd = v.asInstanceOf[Decimal].toJavaBigDecimal
        val unscaled = jbd.unscaledValue.toByteArray
        buf.putInt(jbd.scale); buf.putInt(unscaled.length); buf.put(unscaled)
      }
      def read(buf: ByteBuffer): Any = {
        val scale = buf.getInt
        val b = new Array[Byte](buf.getInt); buf.get(b)
        Decimal(new java.math.BigDecimal(new java.math.BigInteger(b), scale))
      }
      def size(v: Any): Int =
        8 + v.asInstanceOf[Decimal].toJavaBigDecimal.unscaledValue.toByteArray.length
    })

  /** The sampled-value types the reservoir aggregates accept. */
  def forType(dt: DataType): Option[ValueOps] = dt match {
    case DoubleType => Some(doubleOps)
    case FloatType => Some(floatOps)
    case LongType | TimestampType | TimestampNTZType => Some(longOps)
    case IntegerType | DateType => Some(intOps)
    case StringType => Some(stringOps)
    case _: DecimalType => Some(decimalOps)
    case _ => None
  }
}
