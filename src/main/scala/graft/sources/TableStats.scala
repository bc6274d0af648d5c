package graft.sources

import java.io.{DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-column statistics of one commit (or, after folding, of one
  * snapshot version): null count, and min/max for orderable atomic
  * types. `tracked = false` marks types whose min/max the stats layer
  * deliberately does not serve (floating point — NaN/-0.0 ordering —
  * and non-atomic types); COUNT pushdown still works for them.
  * `sum` is the EXACT non-null total for integral columns (None =
  * unknown: pre-sum history, Long overflow, or a non-integral type) —
  * what lets `SELECT sum(col)` serve from metadata; floating point is
  * deliberately excluded (addition-order-dependent).
  * `sortedAsc`/`sortedDesc` record WRITE-ORDER monotonicity of one
  * data file's rows (non-null throughout, non-decreasing /
  * non-increasing) — discovered by the write task, never declared, so
  * a clustered INSERT...SORT BY or a sort-rewriting OPTIMIZE
  * automatically yields files the scan can report an output ORDERING
  * for ([[MemScan]]'s `SupportsReportOrdering`). Only meaningful on
  * per-FILE stats: folding across files loses it (merge resets both). */
private[sources] final case class ColStats(nulls: Long, tracked: Boolean,
    min: Option[Any], max: Option[Any], sum: Option[Long] = None,
    sortedAsc: Boolean = false, sortedDesc: Boolean = false)

/** Snapshot/commit statistics — the miniature of the per-file stats a
  * Delta/Iceberg commit log carries (`numRecords`, `minValues`,
  * `maxValues`, `nullCount` in Delta's `add.stats`), which is what lets
  * a lakehouse answer COUNT/MIN/MAX from METADATA without scanning a
  * single data file. Values are Catalyst internal representations
  * (java boxed primitives / UTF8String), so folding uses the same
  * binary orderings Spark's Min/Max aggregates use.
  */
private[sources] final case class CommitStats(count: Long,
    cols: Map[String, ColStats])

private[sources] object CommitStats {

  /** Re-key a stats map across a schema change: shared physical slots
    * map old name -> new name positionally (a rename keeps the slot),
    * so live pruning keeps working under the new names. */
  def rekey(s: CommitStats, oldPhys: StructType,
      newPhys: StructType): CommitStats = {
    val m = oldPhys.fields.zip(newPhys.fields)
      .map { case (a, b) => a.name -> b.name }.toMap
    CommitStats(s.count, s.cols.map { case (k, v) => m.getOrElse(k, k) -> v })
  }

  /** Min/max are tracked only for types whose ordering is total and
    * identical to Spark's aggregate semantics without edge cases:
    * integers, strings (UTF8_BINARY), dates, timestamps. Floating
    * point is deliberately untracked (NaN / -0.0 ordering pitfalls —
    * the scan declines and Spark aggregates normally). */
  def minMaxTracked(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | ByteType | StringType |
        DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Exact SUM is tracked for plain integral types only: Long math is
    * exact and order-free, overflow is detected (`Math.addExact`) and
    * demotes the stat to unknown. Dates/timestamps are orderable but
    * their sums are meaningless; floats are order-dependent. */
  def sumTracked(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | ByteType => true
    case _ => false
  }

  private[sources] def asLong(v: Any): Long = v match {
    case x: java.lang.Long => x.longValue()
    case x: java.lang.Integer => x.longValue()
    case x: java.lang.Short => x.longValue()
    case x: java.lang.Byte => x.longValue()
    case other => throw new IllegalStateException(
      s"sum over non-integral value $other")
  }

  private def addSums(a: Option[Long], b: Option[Long]): Option[Long] =
    (a, b) match {
      case (Some(x), Some(y)) =>
        try Some(Math.addExact(x, y))
        catch { case _: ArithmeticException => None }
      case _ => None
    }

  private def cmp(a: Any, b: Any): Int =
    a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** Retained extremal candidates must not alias a VOLATILE row buffer
    * (write-exec rows and parquet-read rows are reused between steps) —
    * strings are the only tracked type whose internal value is a
    * reference into the buffer, so clone exactly those. */
  private def stable(v: Any): Any = v match {
    case u: UTF8String => u.clone()
    case other => other
  }

  /** Streaming accumulator for one commit's statistics — the form a
    * WRITE TASK folds row-by-row while streaming into its parquet data
    * file, so stats cost one O(1)-state pass and the rows are never
    * retained. Rows may carry a historical prefix arity
    * (pre-evolution); fields beyond a row's arity count as NULL —
    * exactly how the scan pads them. */
  final class Acc(schema: StructType) extends Serializable {
    private val n = schema.length
    private val tracked =
      Array.tabulate(n)(i => minMaxTracked(schema(i).dataType))
    private val sumT =
      Array.tabulate(n)(i => sumTracked(schema(i).dataType))
    private val nulls = new Array[Long](n)
    private val mins = new Array[Any](n)
    private val maxs = new Array[Any](n)
    private val sums = new Array[Long](n)
    private val sumOk = Array.fill(n)(true)
    // write-order monotonicity: both flags start true and die on the
    // first violation OR any null — once dead the column pays nothing
    // (prev reference dropped, comparisons skipped). Real unsorted
    // columns die within a handful of rows; only genuinely sorted
    // columns pay one comparison (strings: one clone) per row.
    private val ascOk = Array.tabulate(n)(i => tracked(i))
    private val descOk = Array.tabulate(n)(i => tracked(i))
    private val prevs = new Array[Any](n)
    private var count = 0L
    def add(r: InternalRow): Unit = {
      count += 1
      var i = 0
      while (i < n) {
        if (i >= r.numFields || r.isNullAt(i)) {
          nulls(i) += 1
          // null placement is ambiguous: a file with nulls reports no
          // write order (the scan demands nulls == 0 anyway)
          ascOk(i) = false; descOk(i) = false; prevs(i) = null
        } else if (tracked(i)) {
          val v = r.get(i, schema(i).dataType)
          if (mins(i) == null || cmp(v, mins(i)) < 0) mins(i) = stable(v)
          if (maxs(i) == null || cmp(v, maxs(i)) > 0) maxs(i) = stable(v)
          if (sumT(i) && sumOk(i)) {
            try sums(i) = Math.addExact(sums(i), asLong(v))
            catch { case _: ArithmeticException => sumOk(i) = false }
          }
          if (ascOk(i) || descOk(i)) {
            val p = prevs(i)
            if (p != null) {
              val c = cmp(v, p)
              if (c < 0) ascOk(i) = false
              if (c > 0) descOk(i) = false
            }
            prevs(i) = if (ascOk(i) || descOk(i)) stable(v) else null
          }
        }
        i += 1
      }
    }
    def result: CommitStats =
      CommitStats(count, schema.fields.zipWithIndex.map { case (f, i) =>
        f.name ->
          ColStats(nulls(i), tracked(i), Option(mins(i)), Option(maxs(i)),
            if (sumT(i) && sumOk(i)) Some(sums(i)) else None,
            sortedAsc = tracked(i) && ascOk(i),
            sortedDesc = tracked(i) && descOk(i))
      }.toMap)
  }

  /** Exact stats of one commit's rows under `schema` (the latest
    * schema at commit time). */
  def of(rows: IterableOnce[InternalRow], schema: StructType): CommitStats = {
    val acc = new Acc(schema)
    rows.iterator.foreach(acc.add)
    acc.result
  }

  def empty(schema: StructType): CommitStats =
    CommitStats(0L, schema.fields.map(f =>
      f.name -> ColStats(0L, minMaxTracked(f.dataType), None, None,
        if (sumTracked(f.dataType)) Some(0L) else None)).toMap)

  /** Fold an append commit's stats onto the running snapshot stats. A
    * column absent from one side (added by a later ADD COLUMN) is
    * all-NULL on that side — it contributes its row count as nulls and
    * nothing to min/max, the Delta AddColumn read semantics. */
  def merge(a: CommitStats, b: CommitStats): CommitStats = {
    val names = a.cols.keySet ++ b.cols.keySet
    CommitStats(a.count + b.count, names.iterator.map { nm =>
      // a column absent from one side is all-NULL there: zero sum
      // (SQL sums skip nulls; emptiness is decided by non-null count)
      val ca = a.cols.getOrElse(nm,
        ColStats(a.count, tracked = true, None, None, Some(0L)))
      val cb = b.cols.getOrElse(nm,
        ColStats(b.count, tracked = true, None, None, Some(0L)))
      val mn = (ca.min, cb.min) match {
        case (Some(x), Some(y)) => Some(if (cmp(x, y) <= 0) x else y)
        case (x, y) => x.orElse(y)
      }
      val mx = (ca.max, cb.max) match {
        case (Some(x), Some(y)) => Some(if (cmp(x, y) >= 0) x else y)
        case (x, y) => x.orElse(y)
      }
      nm -> ColStats(ca.nulls + cb.nulls, ca.tracked && cb.tracked, mn, mx,
        addSums(ca.sum, cb.sum))
    }.toMap)
  }

  /** Fold one row-level delta onto the previous snapshot's exact
    * stats over in-heap row vectors — the reference form
    * `CommitStatsProps` drives. The result vector is read through the
    * same pruned-column [[Snap.columns]] path the file plane uses, so
    * both planes share one heal. */
  def applyDelta(prev: CommitStats, schema: StructType,
      prevRows: Vector[InternalRow], d: VRowDelta,
      result: Vector[InternalRow]): CommitStats = {
    val removed: Seq[InternalRow] =
      d.deletes.map(p => prevRows(p.toInt)) ++
        d.updates.map { case (p, _) => prevRows(p.toInt) }
    val added: Seq[InternalRow] = d.updates.map(_._2) ++ d.inserts
    val resultSnap = Snap.base(Vector(MemSeg(result)))
    applyDelta(prev, schema, removed, added,
      prev.count - d.deletes.length + d.inserts.length,
      resultSnap.columns(schema, _))
  }

  /** Fold one row-level delta onto the previous snapshot's exact
    * stats, SELF-HEALING instead of rescanning. `removed`/`added` are
    * the O(delta) rows the commit touched (deletes and update
    * pre-images, batch-resolved by [[Snap.rowsAt]]; update post-images
    * and inserts). Counts, null counts and integral sums adjust
    * arithmetically. A min (max) stays O(delta) unless a removed value
    * equals it AND no added value reaches it again: when the smallest
    * added value is at or below the old min, it IS the new min (every
    * survivor is at or above the old one), removed extreme or not.
    *
    * Every column that still lost its extreme is rescanned together:
    * `rescan(cols)` streams the result snapshot once, row field `j`
    * holding column `cols(j)` — on the file plane a read pruned to
    * just those columns — and that one pass yields each column's exact
    * min and max. `rescan` runs at most once per commit. A real format
    * gets the equivalent from per-file stats; a single-store log must
    * heal. */
  def applyDelta(prev: CommitStats, schema: StructType,
      removed: Seq[InternalRow], added: Seq[InternalRow],
      resultCount: Long,
      rescan: Seq[Int] => Iterator[InternalRow]): CommitStats = {
    def valueAt(r: InternalRow, i: Int, dt: DataType): Any =
      if (i >= r.numFields || r.isNullAt(i)) null else r.get(i, dt)
    def extreme(vals: Seq[Any], lt: Boolean): Option[Any] =
      vals.iterator.filter(_ != null)
        .reduceOption((a, b) => if ((cmp(a, b) <= 0) == lt) a else b)
    val stale = Vector.newBuilder[Int]
    val cols = schema.fields.zipWithIndex.map { case (f, i) =>
      val dt = f.dataType
      // a column added after the last full recompute is all-NULL in
      // the history prev covers (the merge() default)
      val c0 = prev.cols.getOrElse(f.name,
        ColStats(prev.count, minMaxTracked(dt), None, None,
          if (sumTracked(dt)) Some(0L) else None))
      val remVals = removed.map(valueAt(_, i, dt))
      val addVals = added.map(valueAt(_, i, dt))
      val nulls = c0.nulls - remVals.count(_ == null) +
        addVals.count(_ == null)
      // sums self-heal ARITHMETICALLY — unlike extremes, a removal
      // never forces a rescan (subtraction is exact)
      val sm: Option[Long] =
        if (!sumTracked(dt)) None
        else c0.sum.flatMap { s0 =>
          try {
            var s = s0
            remVals.foreach(v =>
              if (v != null) s = Math.subtractExact(s, asLong(v)))
            addVals.foreach(v =>
              if (v != null) s = Math.addExact(s, asLong(v)))
            Some(s)
          } catch { case _: ArithmeticException => None }
        }
      if (!c0.tracked) ColStats(nulls, tracked = false, None, None, sm)
      else {
        // Some(bound) = exact without a scan; None = needs the rescan
        def heal(old: Option[Any], lt: Boolean): Option[Option[Any]] = {
          val a = extreme(addVals, lt)
          def reached(o: Any) =
            a.exists(v => if (lt) cmp(v, o) <= 0 else cmp(v, o) >= 0)
          def lost(o: Any) =
            remVals.exists(v => v != null && cmp(v, o) == 0)
          old match {
            case Some(o) if reached(o) => Some(a)
            case Some(o) if lost(o) => None
            case Some(_) => Some(old)
            case None => Some(a)
          }
        }
        val mn = heal(c0.min, lt = true)
        val mx = heal(c0.max, lt = false)
        if (mn.isEmpty || mx.isEmpty) stale += i
        ColStats(nulls, tracked = true, mn.flatten, mx.flatten, sm)
      }
    }
    val toScan = stale.result()
    if (toScan.nonEmpty) {
      val dts = toScan.map(schema(_).dataType).toArray
      val lo = new Array[Any](dts.length)
      val hi = new Array[Any](dts.length)
      rescan(toScan).foreach { r =>
        var j = 0
        while (j < dts.length) {
          if (!r.isNullAt(j)) {
            val v = r.get(j, dts(j))
            if (lo(j) == null || cmp(v, lo(j)) < 0) lo(j) = stable(v)
            if (hi(j) == null || cmp(v, hi(j)) > 0) hi(j) = stable(v)
          }
          j += 1
        }
      }
      toScan.indices.foreach { j =>
        cols(toScan(j)) = cols(toScan(j)).copy(min = Option(lo(j)),
          max = Option(hi(j)))
      }
    }
    CommitStats(resultCount,
      schema.fields.iterator.map(_.name).zip(cols.iterator).toMap)
  }

  // ---- sidecar codec (same DataOutputStream discipline as the commit
  // files; values are type-dispatched on the column's schema type,
  // which never changes — evolution is append-only) ------------------

  private def writeVal(out: DataOutputStream, dt: DataType, v: Any): Unit =
    dt match {
      case IntegerType | DateType => out.writeInt(v.asInstanceOf[Int])
      case LongType | TimestampType | TimestampNTZType =>
        out.writeLong(v.asInstanceOf[Long])
      case ShortType => out.writeShort(v.asInstanceOf[Short].toInt)
      case ByteType => out.writeByte(v.asInstanceOf[Byte].toInt)
      case StringType =>
        val b = v.asInstanceOf[UTF8String].getBytes
        out.writeInt(b.length)
        out.write(b)
      case other => throw new IllegalStateException(
        s"untracked type $other has no stats codec")
    }

  private def readVal(in: DataInputStream, dt: DataType): Any = dt match {
    case IntegerType | DateType => in.readInt()
    case LongType | TimestampType | TimestampNTZType => in.readLong()
    case ShortType => in.readShort()
    case ByteType => in.readByte()
    case StringType =>
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      UTF8String.fromBytes(b)
    case other => throw new IllegalStateException(
      s"untracked type $other has no stats codec")
  }

  /** On-disk key of one column's stats entry: the FIELD ID when the
    * table has column mapping (`#<id>` — rename-proof, the name in
    * force at write time becomes irrelevant), else the plain name
    * (legacy tables, which can never rename). */
  private def keyFor(f: StructField): String =
    ColumnMapping.fieldId(f).map(id => "#" + id).getOrElse(f.name)

  /** Layout-v2 marker: the first long of a stats payload. `count`
    * (the v1 first field) is never negative, so a negative sentinel
    * discriminates the layouts and OLD payloads (no sums) keep
    * decoding — embedded stats ride inside commit files, which are
    * immutable durable history that must replay forever. */
  private val StatsSentinelV2: Long = java.lang.Long.MIN_VALUE + 2
  /** v3 appends a write-order flags byte per column (sortedAsc /
    * sortedDesc) — same immutable-history discipline: v1/v2 payloads
    * keep decoding (flags read as false). */
  private val StatsSentinelV3: Long = java.lang.Long.MIN_VALUE + 3

  def write(out: DataOutputStream, schema: StructType, s: CommitStats): Unit = {
    out.writeLong(StatsSentinelV3)
    out.writeLong(s.count)
    // count MATCHING entries, not map size: a fold that still carries
    // keys the schema no longer names (pre-RENAME history) must not
    // promise entries it then cannot write
    val matching = schema.fields.filter(f => s.cols.contains(f.name))
    out.writeInt(matching.length)
    matching.foreach { f =>
      val c = s.cols(f.name)
      out.writeUTF(keyFor(f))
      out.writeLong(c.nulls)
      out.writeBoolean(c.tracked)
      out.writeBoolean(c.tracked && c.min.isDefined)
      if (c.tracked && c.min.isDefined) writeVal(out, f.dataType, c.min.get)
      out.writeBoolean(c.tracked && c.max.isDefined)
      if (c.tracked && c.max.isDefined) writeVal(out, f.dataType, c.max.get)
      out.writeBoolean(c.sum.isDefined)
      c.sum.foreach(out.writeLong)
      out.writeByte((if (c.sortedAsc) 1 else 0) | (if (c.sortedDesc) 2
        else 0))
    }
  }

  /** Decode under the LATEST schema (column types never change; a
    * sidecar written before an ADD COLUMN simply lacks the new name). */
  def read(in: DataInputStream, schema: StructType): CommitStats = {
    val first = in.readLong()
    val v3 = first == StatsSentinelV3
    val v2 = v3 || first == StatsSentinelV2
    val count = if (v2) in.readLong() else first
    val n = in.readInt()
    val byName = schema.fields.map(f => f.name -> f).toMap
    val byId = schema.fields.flatMap(f =>
      ColumnMapping.fieldId(f).map(_ -> f)).toMap
    val cols = (0 until n).map { _ =>
      val key = in.readUTF()
      // id-keyed entries (#<id>) resolve to the field's CURRENT name,
      // so a rename never orphans historical stats
      val field =
        if (key.startsWith("#")) byId.getOrElse(key.drop(1).toLong,
          throw new IllegalStateException(
            s"stats sidecar names unknown field id $key"))
        else byName.getOrElse(key, throw new IllegalStateException(
          s"stats sidecar names unknown column $key"))
      val name = field.name
      val dt = field.dataType
      val nulls = in.readLong()
      val tracked = in.readBoolean()
      val mn = if (in.readBoolean()) Some(readVal(in, dt)) else None
      val mx = if (in.readBoolean()) Some(readVal(in, dt)) else None
      val sm = if (v2 && in.readBoolean()) Some(in.readLong()) else None
      val flags = if (v3) in.readByte() else 0
      name -> ColStats(nulls, tracked, mn, mx, sm,
        sortedAsc = (flags & 1) != 0, sortedDesc = (flags & 2) != 0)
    }.toMap
    CommitStats(count, cols)
  }
}
