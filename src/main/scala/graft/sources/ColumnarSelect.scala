package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector,
  WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray,
  ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String

/** SELECTION-VECTOR machinery for the catalog's vectorized scan: lets
  * a decoded [[ColumnarBatch]] serve a SUBSET of its rows (position
  * deletes applied, pushed filters evaluated exactly, UPDATE patch rows
  * served in place) without copying a decoded value — the Iceberg
  * `ColumnVectorWithFilter` idea — plus the copy of rows no decoder
  * produced (patch rows, heap insert tails) into batches. Spark's
  * `ColumnarBatch` has no native selection vector, so each output
  * column is a thin view that remaps `rowId -> sel(rowId)` into the
  * delegate vector the parquet decoder filled. `ColumnarToRow` and
  * whole-stage codegen consume the view through the stock
  * [[ColumnVector]] getters; the indirection is one array load per
  * access, vs re-decoding the whole file record-at-a-time — which is
  * what the pre-round-17 fallback paid the moment a table carried one
  * DELETE.
  */
private[sources] object ColumnarSelect {

  /** Mutable indirection target: the reader rebuilds `sel` per batch
    * while the wrapper vectors (allocated once per reader) keep
    * pointing here. */
  final class SelHolder {
    var sel: Array[Int] = _
  }

  /** A row-remapped view of `delegate`: logical row `i` reads the
    * delegate's physical row `sel(i)`, or — for a NEGATIVE `sel(i)` —
    * row `~sel(i)` of `alt` (the UPDATE patch rows of the slice, in the
    * same layout), so a patched position is served in place without
    * splitting the batch. Children (struct fields, interval legs) share
    * the SAME selection — Spark's final `getStruct` builds
    * `ColumnarRow(this, rowId)` and probes children at the parent's
    * logical rowId, so each child must remap too. Array/map reads
    * delegate whole (`getArray(sel(i))` returns the delegate's own view
    * over unmapped element data — element offsets are physical and stay
    * valid). */
  final class MappedColumnVector(delegate: ColumnVector, h: SelHolder,
      alt: ColumnVector = null)
      extends ColumnVector(delegate.dataType) {

    // the delegate's reader owns the memory; the view frees nothing
    override def close(): Unit = ()

    // conservative (counts over the WHOLE physical batches): consumers
    // use these only to skip null checks when false/zero, so an
    // overcount is always safe
    override def hasNull: Boolean =
      delegate.hasNull || (alt != null && alt.hasNull)
    override def numNulls: Int =
      delegate.numNulls + (if (alt == null) 0 else alt.numNulls)

    override def isNullAt(i: Int): Boolean = {
      val s = h.sel(i); if (s >= 0) delegate.isNullAt(s) else alt.isNullAt(~s)
    }
    override def getBoolean(i: Int): Boolean = {
      val s = h.sel(i); if (s >= 0) delegate.getBoolean(s) else alt.getBoolean(~s)
    }
    override def getByte(i: Int): Byte = {
      val s = h.sel(i); if (s >= 0) delegate.getByte(s) else alt.getByte(~s)
    }
    override def getShort(i: Int): Short = {
      val s = h.sel(i); if (s >= 0) delegate.getShort(s) else alt.getShort(~s)
    }
    override def getInt(i: Int): Int = {
      val s = h.sel(i); if (s >= 0) delegate.getInt(s) else alt.getInt(~s)
    }
    override def getLong(i: Int): Long = {
      val s = h.sel(i); if (s >= 0) delegate.getLong(s) else alt.getLong(~s)
    }
    override def getFloat(i: Int): Float = {
      val s = h.sel(i); if (s >= 0) delegate.getFloat(s) else alt.getFloat(~s)
    }
    override def getDouble(i: Int): Double = {
      val s = h.sel(i); if (s >= 0) delegate.getDouble(s) else alt.getDouble(~s)
    }
    override def getArray(i: Int): ColumnarArray = {
      val s = h.sel(i); if (s >= 0) delegate.getArray(s) else alt.getArray(~s)
    }
    override def getMap(i: Int): ColumnarMap = {
      val s = h.sel(i); if (s >= 0) delegate.getMap(s) else alt.getMap(~s)
    }
    override def getDecimal(i: Int, precision: Int, scale: Int): Decimal = {
      val s = h.sel(i)
      if (s >= 0) delegate.getDecimal(s, precision, scale)
      else alt.getDecimal(~s, precision, scale)
    }
    override def getUTF8String(i: Int): UTF8String = {
      val s = h.sel(i)
      if (s >= 0) delegate.getUTF8String(s) else alt.getUTF8String(~s)
    }
    override def getBinary(i: Int): Array[Byte] = {
      val s = h.sel(i); if (s >= 0) delegate.getBinary(s) else alt.getBinary(~s)
    }

    private lazy val kids =
      new java.util.concurrent.ConcurrentHashMap[Integer, MappedColumnVector]()
    override def getChild(ordinal: Int): ColumnVector =
      kids.computeIfAbsent(ordinal,
        o => new MappedColumnVector(delegate.getChild(o), h,
          if (alt == null) null else alt.getChild(o)))
  }

  /** A batch source for the columnar reader: the parquet decoder
    * ([[ParquetBatchIO.BatchFileReader]]) or rows copied into vectors
    * ([[HeapBatches]]). Each batch is valid until the next call. */
  trait BatchSource extends AutoCloseable {
    /** The next batch; null when exhausted. */
    def nextBatch(): ColumnarBatch
    /** Whether pushed filters reached parquet-mr. */
    def engaged: Boolean
  }

  /** Can [[RowColumns]] write this type? Every type the vectorized
    * parquet decoder serves to the catalog ([[ParquetBatchIO.supportsBatch]]
    * requires it), so a columnar scan can serve its patch rows and heap
    * slices in the same layout. */
  def writable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | DateType |
        LongType | TimestampType | TimestampNTZType | FloatType |
        DoubleType | BinaryType | _: StringType | _: DecimalType |
        _: YearMonthIntervalType | _: DayTimeIntervalType => true
    case ArrayType(et, _) => writable(et)
    case MapType(kt, vt, _) => writable(kt) && writable(vt)
    case st: StructType => st.fields.forall(f => writable(f.dataType))
    case _ => false
  }

  /** Rows in TABLE layout (`data`, possibly at a historical prefix arity
    * from before an ADD COLUMN) copied into reusable on-heap vectors at
    * the scan's read layout `read` — how a columnar scan serves rows no
    * parquet decoder produced: UPDATE patch rows and heap insert tails.
    * Columns the row predates, or `data` lacks, read NULL. */
  final class RowColumns(data: StructType, read: StructType,
      capacity: Int) {
    private val src: Array[Int] =
      read.fields.map(f => data.fieldNames.indexOf(f.name))
    private val vecs: Array[OnHeapColumnVector] =
      OnHeapColumnVector.allocateColumns(capacity, read)
    val batch: ColumnarBatch =
      new ColumnarBatch(vecs.map(v => v: ColumnVector))

    /** Refill the batch with `n` rows drawn from `row(k)`, k < n (the
      * vectors grow past `capacity` as needed). */
    def fill(n: Int, row: Int => InternalRow): ColumnarBatch = {
      vecs.foreach(_.reset())
      var k = 0
      while (k < n) {
        val r = row(k)
        var j = 0
        while (j < vecs.length) {
          val s = src(j)
          if (s < 0 || s >= r.numFields) appendNull(vecs(j))
          else append(vecs(j), read(j).dataType, r, s)
          j += 1
        }
        k += 1
      }
      batch.setNumRows(n)
      batch
    }

    private def appendNull(v: WritableColumnVector): Unit =
      v.dataType match {
        case _: StructType => v.appendStruct(true)
        case _ => v.appendNull()
      }

    private def append(v: WritableColumnVector, dt: DataType,
        r: SpecializedGetters, i: Int): Unit =
      if (r.isNullAt(i)) appendNull(v)
      else dt match {
        case BooleanType => v.appendBoolean(r.getBoolean(i))
        case ByteType => v.appendByte(r.getByte(i))
        case ShortType => v.appendShort(r.getShort(i))
        case IntegerType | DateType | _: YearMonthIntervalType =>
          v.appendInt(r.getInt(i))
        case LongType | TimestampType | TimestampNTZType |
            _: DayTimeIntervalType => v.appendLong(r.getLong(i))
        case FloatType => v.appendFloat(r.getFloat(i))
        case DoubleType => v.appendDouble(r.getDouble(i))
        case _: StringType =>
          val b = r.getUTF8String(i).getBytes
          v.appendByteArray(b, 0, b.length)
        case BinaryType =>
          val b = r.getBinary(i)
          v.appendByteArray(b, 0, b.length)
        case d: DecimalType =>
          // the on-heap vector's decimal storage, by precision
          val x = r.getDecimal(i, d.precision, d.scale)
          if (d.precision <= Decimal.MAX_INT_DIGITS)
            v.appendInt(x.toUnscaledLong.toInt)
          else if (d.precision <= Decimal.MAX_LONG_DIGITS)
            v.appendLong(x.toUnscaledLong)
          else {
            val b = x.toJavaBigDecimal.unscaledValue.toByteArray
            v.appendByteArray(b, 0, b.length)
          }
        case ArrayType(et, _) =>
          val a = r.getArray(i)
          v.appendArray(a.numElements())
          var k = 0
          while (k < a.numElements()) { append(v.arrayData(), et, a, k); k += 1 }
        case MapType(kt, vt, _) =>
          val m = r.getMap(i)
          v.appendArray(m.numElements())
          var k = 0
          while (k < m.numElements()) {
            append(v.getChild(0), kt, m.keyArray(), k)
            append(v.getChild(1), vt, m.valueArray(), k)
            k += 1
          }
        case st: StructType =>
          v.appendStruct(false)
          val row = r.getStruct(i, st.length)
          var j = 0
          while (j < st.length) {
            append(v.getChild(j), st(j).dataType, row, j)
            j += 1
          }
        case other => throw new IllegalStateException(
          s"no columnar copy for $other")
      }
  }

  /** A heap slice's rows `[from, until)` as batches of at most
    * [[ParquetBatchIO.Capacity]] rows — the columnar read of a heap
    * insert tail. One reused batch; position `from + k` of the slice
    * is row `k` of the run of batches. */
  final class HeapBatches(rows: Vector[InternalRow], from: Long,
      until: Long, data: StructType, read: StructType) extends BatchSource {
    private val out = new RowColumns(data, read,
      math.min(until - from, ParquetBatchIO.Capacity.toLong).toInt)
    private var next = from
    override def nextBatch(): ColumnarBatch =
      if (next >= until) null
      else {
        val start = next
        val n = math.min(until - start, ParquetBatchIO.Capacity.toLong).toInt
        next += n
        out.fill(n, k => rows((start + k).toInt))
      }
    override def engaged: Boolean = false
    override def close(): Unit = ()
  }

  /** COMPUTED long column — how the batch path serves the `__pos`
    * row-id metadata column (live position in the snapshot ordering,
    * never stored in parquet). The reader fills `values` per batch,
    * already selection-resolved: index = OUTPUT row ordinal. */
  final class LongValuesVector
      extends ColumnVector(org.apache.spark.sql.types.LongType) {
    private[sources] var values: Array[Long] = new Array[Long](0)
    private[sources] def ensure(n: Int): Array[Long] = {
      if (values.length < n) values = new Array[Long](n)
      values
    }
    override def close(): Unit = ()
    override def hasNull: Boolean = false
    override def numNulls: Int = 0
    override def isNullAt(i: Int): Boolean = false
    override def getLong(i: Int): Long = values(i)
    private def unsupported(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"$what on the computed __pos LONG vector")
    override def getBoolean(i: Int): Boolean = unsupported("getBoolean")
    override def getByte(i: Int): Byte = unsupported("getByte")
    override def getShort(i: Int): Short = unsupported("getShort")
    override def getInt(i: Int): Int = unsupported("getInt")
    override def getFloat(i: Int): Float = unsupported("getFloat")
    override def getDouble(i: Int): Double = unsupported("getDouble")
    override def getArray(i: Int): ColumnarArray = unsupported("getArray")
    override def getMap(i: Int): ColumnarMap = unsupported("getMap")
    override def getDecimal(i: Int, p: Int, s: Int): Decimal =
      unsupported("getDecimal")
    override def getUTF8String(i: Int): UTF8String =
      unsupported("getUTF8String")
    override def getBinary(i: Int): Array[Byte] = unsupported("getBinary")
    override def getChild(ordinal: Int): ColumnVector =
      unsupported("getChild")
  }
}
