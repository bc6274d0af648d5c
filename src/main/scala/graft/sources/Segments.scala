package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference,
  UnsafeProjection}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** One immutable run of rows in a table snapshot — either heap-resident
  * (purely in-memory catalogs, and the O(delta) insert tail of a
  * row-level commit) or a parquet DATA FILE on disk (every bulk write
  * of a durable catalog). The file variant is what makes the catalog's
  * data plane exist at 100 TB: a snapshot is a LIST OF FILE REFERENCES
  * (the Delta/Iceberg shape), never an in-heap row array. */
private[sources] sealed trait RowSeg {
  def count: Long
}
private[sources] final case class MemSeg(rows: Vector[InternalRow])
    extends RowSeg {
  override def count: Long = rows.length.toLong
}
/** `path` is the absolute data-file path; `count` its exact row count;
  * `stats` the file's own column statistics — all recorded at write
  * time (the write task folds them while streaming), so split
  * planning, CBO, and FILE-LEVEL SKIPPING never open a file.
  * `partVals` is the ONE partition-transform output tuple every row in
  * the file shares (partitioned tables only): what partition pruning
  * plans against before stats are even consulted. */
private[sources] final case class FileSeg(path: String, count: Long,
    stats: Option[CommitStats] = None,
    partVals: Option[Vector[Any]] = None,
    specId: Int = 0) extends RowSeg

/** One segment of the LIVE view of a snapshot: the immutable segment
  * plus the row-level overlay accumulated by later `WriteDelta`
  * commits — `dels` (sorted PHYSICAL positions deleted from this
  * segment) and `patches` (physical position -> replacement row, the
  * UPDATE overlay). The in-memory mirror of a position-delete file
  * sitting next to a data file. */
private[sources] final case class LiveSeg(seg: RowSeg,
    dels: Vector[Long], patches: Map[Long, InternalRow]) {
  def liveCount: Long = seg.count - dels.length
}

private[sources] object LiveSeg {
  def raw(seg: RowSeg): LiveSeg = LiveSeg(seg, Vector.empty, Map.empty)
}

/** An immutable table snapshot: an ordered vector of overlaid
  * segments. Row POSITIONS (the `__pos` row id the delta protocol
  * addresses) index the LIVE ordering — surviving rows in segment
  * order, deletions compacted out — so positions shift exactly as the
  * previous array-based store's did and every recorded [[VRowDelta]]
  * replays bit-identically. */
private[sources] final case class Snap(segs: Vector[LiveSeg]) {

  lazy val count: Long = segs.iterator.map(_.liveCount).sum

  /** Live global position -> (segment index, physical local position).
    * Physical = live-local shifted past the segment's sorted
    * deletions (each deletion at-or-before the cursor shifts it by
    * one). */
  def locate(p: Long): (Int, Long) = {
    require(p >= 0 && p < count, s"position $p outside snapshot of $count")
    var i = 0
    var rem = p
    while (rem >= segs(i).liveCount) { rem -= segs(i).liveCount; i += 1 }
    val dels = segs(i).dels
    var phys = rem
    var k = 0
    while (k < dels.length && dels(k) <= phys) { phys += 1; k += 1 }
    (i, phys)
  }

  /** One whole-segment slice per segment, each with its overlay and
    * its first live position — what the commit-time reads walk. */
  private def slices: Iterator[SegSlice] = {
    var liveBase = 0L
    segs.iterator.map { ls =>
      val s = SegSlice(ls.seg, 0L, ls.seg.count, ls.dels, ls.patches,
        liveBase)
      liveBase += ls.liveCount
      s
    }
  }

  /** The scan's reader factory for a commit-time read of this
    * snapshot: `out` columns of table-layout `data`, columnar whenever
    * a scan of this snapshot would be ([[MemScan.columnarFor]]). */
  private def reader(out: StructType, data: StructType): SegReaderFactory = {
    val fileRead = MemScan.fileReadSchema(out, data, Nil)
    new SegReaderFactory(out, data, fileRead, Nil, direct = false,
      MemScan.columnarFor(this, fileRead))
  }

  /** Batch-resolve live positions to their current rows (patched).
    * One pass per TOUCHED segment, stopping at its last wanted row,
    * through the scan's reader (a `__pos` read): a delta commit or a CDF
    * read resolving its pre-images decodes only the files it actually
    * hits, each once, in batches where the scan would. Returned rows
    * are stable copies. */
  def rowsAt(positions: Seq[Long], schema: StructType)
      : Map[Long, InternalRow] = {
    if (positions.isEmpty) return Map.empty
    val bySeg = positions.distinct.groupBy(p => locate(p)._1)
    val n = schema.length
    val f = reader(StructType(schema.fields :+
      StructField(MemTable.PosCol, LongType, nullable = false)), schema)
    val strip = UnsafeProjection.create(schema.fields.indices.map(i =>
      BoundReference(i, schema(i).dataType, nullable = true)))
    val out = Map.newBuilder[Long, InternalRow]
    slices.zipWithIndex.foreach { case (s, si) =>
      bySeg.get(si).foreach { ps =>
        val want = scala.collection.mutable.HashSet(ps: _*)
        val it = f.rows(s, r => want.contains(r.getLong(n)))
        try while (want.nonEmpty && it.hasNext) {
          val r = it.next()
          val p = r.getLong(n)
          want -= p
          out += p -> strip(r).copy()
        } finally it.close()
      }
    }
    out.result()
  }

  /** Live rows in position order, through the scan's reader. Rows are
    * VOLATILE where they come from a decoder (valid until the next
    * step — copy to retain, the [[ParquetRowIO]] contract); a snapshot
    * with no data file reads on the row path, whose heap rows are the
    * stable stored ones (padded copies past a historical prefix
    * arity). */
  def iterator(schema: StructType): Iterator[InternalRow] = {
    val f = reader(schema, schema)
    slices.flatMap(f.rows(_))
  }

  /** Live rows in position order, read at a PRUNED schema: row field
    * `j` holds column `cols(j)` of `schema`. File segments read only
    * those columns' pages; heap rows and patches are projected (NULL
    * past a historical prefix arity). Rows are VOLATILE, as with
    * [[iterator]]. */
  def columns(schema: StructType, cols: Seq[Int]): Iterator[InternalRow] = {
    val f = reader(StructType(cols.map(schema(_))), schema)
    slices.flatMap(f.rows(_))
  }
}

private[sources] object Snap {
  val empty: Snap = Snap(Vector.empty)

  def base(segs: Vector[RowSeg]): Snap = Snap(segs.map(LiveSeg.raw))

  /** Apply one version delta — the generalization of the old
    * row-vector fold to overlaid segments. Row-level deltas translate
    * their GLOBAL live positions (the recorded/logged form, unchanged)
    * into per-segment physical deletions and patches; inserts append
    * as a heap segment (O(delta) by the protocol's nature). */
  def applyDelta(prev: Snap, d: VDelta): Snap = d match {
    case VBase(segs) => base(segs)
    case VRewrite(segs) => base(segs) // content-identical re-layout
    case VAppend(segs) => Snap(prev.segs ++ segs.map(LiveSeg.raw))
    case da: VDropAdd =>
      // partition overwrite / compaction: named (or tuple-matched,
      // post-expiry) files leave WITH their overlays; every kept
      // segment keeps its overlay object untouched
      Snap(prev.segs.filterNot(ls => da.drops(ls.seg)) ++
        da.add.map(LiveSeg.raw))
    case VMarker => prev
    case _: VSpecChange => prev
    case VRowDelta(deletes, updates, inserts) =>
      val n = prev.segs.length
      val newDels = Array.fill(n)(Vector.newBuilder[Long])
      val newPatch = Array.fill(n)(Map.newBuilder[Long, InternalRow])
      deletes.foreach { p =>
        val (si, phys) = prev.locate(p)
        newDels(si) += phys
      }
      updates.foreach { case (p, r) =>
        val (si, phys) = prev.locate(p)
        newPatch(si) += phys -> r
      }
      val segs = prev.segs.zipWithIndex.map { case (ls, si) =>
        val addDel = newDels(si).result()
        val addPatch = newPatch(si).result()
        if (addDel.isEmpty && addPatch.isEmpty) ls
        else {
          val dels = (ls.dels ++ addDel).sorted
          // a newly-deleted position sheds any previous patch
          val patches = (ls.patches ++ addPatch) -- addDel
          LiveSeg(ls.seg, dels, patches)
        }
      }
      val withIns =
        if (inserts.isEmpty) segs
        else segs :+ LiveSeg.raw(MemSeg(inserts))
      Snap(withIns)
  }
}
